package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Classifier, Corpus, Curation, Dedup, Multimodal, Ranking, Sampling, Similarity, TextStats}
import graft.ops.TimeSeries
import graft.store.CandleStore

/** The declared query corpus (SURVEY.md §2.2–2.4): every operator the
  * engine supports, as a named (SparkSession, sfDir) => DataFrame entry.
  * Each query has a DuckDB oracle in [[Oracles]] unless marked
  * rows-only; column names and rounding are aligned pairwise so the
  * driver's sorted-column value hash matches.
  *
  * Scale notes are per-query; the common rules: joins to dimension
  * tables are broadcast, aggregations are partial-agg shuffles on their
  * keys, windows partition by high-cardinality keys, and nothing
  * collects to the driver except the bounded store-build metadata.
  */
object Queries {
  private def T = Tables

  // ------------------------------------------------------------------ //
  // Fixture worlds (bench honesty)                                      //
  // ------------------------------------------------------------------ //

  /** Every per-sfDir fixture cache resolves its key through [[ek]]: in
    * the base world (epoch 0) the key is the sfDir itself, so fixtures
    * amortize across queries and reps exactly as before. Inside
    * [[withFreshFixtures]] the key carries a never-reused epoch, so
    * stateful work (streaming ingest, store upsert, index build) REALLY
    * re-executes into a fresh state dir instead of measuring the
    * exactly-once replay no-op of state a previous rep built — the
    * bench-protocol honesty fix for stateful medians.
    */
  private val fixtureEpoch = new java.util.concurrent.atomic.AtomicInteger(0)
  private val epochCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private def ek(d: String): String = {
    val e = fixtureEpoch.get
    if (e == 0) d else s"$d#e$e"
  }

  /** Every fixture cache registers here so [[withFreshFixtures]] can
    * drop an epoch's entries on restore — epoch keys are never reused,
    * so un-dropped entries would accumulate across a long bench run.
    */
  private val allFixtureCaches =
    scala.collection.mutable.ArrayBuffer[scala.collection.concurrent.TrieMap[String, _]]()
  private def fixtureCache[V](): scala.collection.concurrent.TrieMap[String, V] = {
    val m = scala.collection.concurrent.TrieMap[String, V]()
    allFixtureCaches.synchronized { allFixtureCaches += m }
    m
  }

  /** Temp dirs and session confs created while a fresh epoch is active,
    * reclaimed when the epoch ends. In the base world (epoch 0) nothing
    * registers: base fixtures are meant to live for the whole run.
    */
  private val epochTmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val epochConfKeys =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, String)]()

  /** `Files.createTempDirectory`, epoch-aware: a throwaway world's dirs
    * are deleted when [[withFreshFixtures]] restores the base world —
    * without this, every stateful bench rep beyond the first leaks a
    * full fixture world of disk for the life of the JVM.
    */
  private def fixtureTmpDir(prefix: String): java.nio.file.Path = {
    val p = Files.createTempDirectory(prefix)
    if (fixtureEpoch.get != 0) epochTmpDirs.add(p)
    p
  }

  /** Session-conf set, epoch-aware: confs keyed on an epoch-qualified
    * name (the per-epoch catalog registrations) are unset on restore.
    */
  private def setEpochConf(s: SparkSession, key: String, value: String): Unit = {
    s.conf.set(key, value)
    if (fixtureEpoch.get != 0) epochConfKeys.add((s, key))
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => try Files.delete(q)
          catch { case _: java.io.IOException => () })
      finally walk.close()
    }

  /** Run `body` against a THROWAWAY fixture world (fresh epoch), then
    * restore the base world — other queries keep their amortized
    * fixtures untouched, while the epoch's cache entries, temp dirs,
    * and catalog confs are reclaimed (epochs are never reused, so
    * anything left behind is a leak for the life of the bench JVM).
    * Bench-only; sequential use (not re-entrant).
    */
  private[graft] def withFreshFixtures[T](body: => T): T = {
    val e = epochCounter.incrementAndGet()
    fixtureEpoch.set(e)
    try body finally {
      fixtureEpoch.set(0)
      val tag = s"#e$e"
      allFixtureCaches.synchronized {
        allFixtureCaches.foreach(c => c.keySet.filter(_.endsWith(tag)).foreach(c.remove))
      }
      var kv = epochConfKeys.poll()
      while (kv != null) {
        try kv._1.conf.unset(kv._2) catch { case _: Throwable => () }
        kv = epochConfKeys.poll()
      }
      var p = epochTmpDirs.poll()
      while (p != null) { deleteRecursively(p); p = epochTmpDirs.poll() }
    }
  }

  /** q74's SQL — shared VERBATIM with the DuckDB oracle (identical
    * association order → identical IEEE arithmetic; the l_quantity
    * moment sums are integer-valued, exact under any summation order,
    * so skew/kurt match bit-for-bit and the mixed-price moments are
    * knife-edge-safe under round(4)). All output types pinned by CAST.
    */
  private[graft] val statsMomentsSql: String = {
    def r(e: String) = Portable.roundSql(e, 4)
    val mu = "(sx / n)"
    s"""WITH s AS (
      SELECT l_returnflag,
        CAST(count(*) AS DOUBLE) AS n,
        sum(CAST(l_quantity AS DOUBLE)) AS sx,
        sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sxx,
        sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sx3,
        sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sx4,
        sum(CAST(l_extendedprice AS DOUBLE)) AS sy,
        sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS syy,
        sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
      CAST(n AS BIGINT) AS n_rows,
      ${r("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS corr_qty_price,
      ${r("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS regr_slope,
      ${r("sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)")} AS regr_intercept,
      ${r(s"((sx3 / n) - 3 * $mu * (sxx / n) + 2 * $mu * $mu * $mu) / pow((sxx / n) - $mu * $mu, 1.5)")} AS skew_qty,
      ${r(s"((sx4 / n) - 4 * $mu * (sx3 / n) + 6 * $mu * $mu * (sxx / n) - 3 * pow($mu, 4.0)) / pow((sxx / n) - $mu * $mu, 2.0) - 3.0")} AS kurt_qty
    FROM s"""
  }

  /** q75's SQL — shared VERBATIM with the DuckDB oracle. */
  private[graft] val lateralTopkSql: String =
    s"""SELECT n_name, c_name, ${Portable.roundSql("c_acctbal", 2)} AS acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) t"""

  /** q76's SQL — shared VERBATIM with the DuckDB oracle. Reachability
    * with depth over a synthetic successor graph on nation keys; the
    * anchor + depth-bounded recursive-step shape. Types pinned BIGINT.
    */
  private[graft] val recursiveReachSql: String =
    """WITH RECURSIVE reach AS (
         SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
         UNION ALL
         SELECT e.dst AS node, r.depth + 1 AS depth
         FROM reach r
         JOIN (SELECT CAST(n_nationkey AS BIGINT) AS src,
                      CAST((n_nationkey * 3 + 7) % 25 AS BIGINT) AS dst
               FROM nation) e
           ON e.src = r.node
         WHERE r.depth < 12)
       SELECT node, min(depth) AS min_depth, count(*) AS n_visits
       FROM reach GROUP BY node"""

  // ---------------------------------------------------------------- //
  // Relational surface (§2.2)                                        //
  // ---------------------------------------------------------------- //

  private def relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: partial-agg shuffle on 2 keys.
    "q01_pricing_summary" -> ((s, d) => {
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Portable.round(sum(col("l_quantity")), 2).as("sum_qty"),
          Portable.round(sum(col("l_extendedprice")), 2).as("sum_base"),
          Portable.round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          Portable.round(avg(col("l_quantity")), 4).as("avg_qty"),
          Portable.round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),
    // Filter + projection + CASE WHEN + IN + BETWEEN: pure scan, all
    // predicates pushed to parquet.
    "q02_filter_case" -> ((s, d) => {
      T.lineitem(s, d)
        .where(col("l_shipdate").between("1996-01-01", "1997-12-31") &&
          col("l_returnflag").isin("A", "R") &&
          col("l_quantity").between(5, 45))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("size_class"),
          Portable.round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 2).as("net_price"),
          concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status"))
    }),
    // 3-way join with broadcast dimension: revenue per nation.
    "q03_join_nation_revenue" -> ((s, d) => {
      T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(Portable.round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),
    // Left outer join preserving customers with zero orders.
    "q04_left_join_counts" -> ((s, d) => {
      T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          Portable.round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spend"))
    }),
    // Left-semi join (EXISTS): customers with at least one 'F' order.
    "q05_semi_join" -> ((s, d) => {
      T.customer(s, d)
        .join(T.orders(s, d).where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    // Left-anti join (NOT EXISTS): customers with no orders at all.
    "q06_anti_join" -> ((s, d) => {
      T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), Portable.round(col("c_acctbal"), 2).as("acctbal"))
    }),
    // Fact-to-dim broadcast join + aggregate per brand.
    "q07_broadcast_brand" -> ((s, d) => {
      T.lineitem(s, d)
        .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(Portable.round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"),
          Portable.round(avg(col("p_retailprice")), 4).as("avg_retail"))
    }),
    // count(distinct) + plain aggregates.
    "q08_distinct_agg" -> ((s, d) => {
      T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"),
          Portable.round(max(col("o_totalprice")), 2).as("max_price"))
    }),
    // ROLLUP grouping sets.
    "q09_rollup" -> ((s, d) => {
      T.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Portable.round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
    }),
    // CUBE grouping sets.
    "q10_cube" -> ((s, d) => {
      T.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Portable.round(avg(col("l_discount")), 6).as("avg_disc"), count(lit(1)).as("cnt"))
    }),
    // Ranking window functions; fully deterministic order.
    "q11_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("nt"))
    }),
    // Frame-based window aggregates: cumulative sum, moving avg, lag/lead.
    "q12_window_running" -> ((s, d) => {
      val o = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cum = o.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = o.rowsBetween(-2, Window.currentRow)
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        Portable.round(sum(col("o_totalprice")).over(cum), 2).as("cum_spend"),
        Portable.round(avg(col("o_totalprice")).over(mov), 2).as("mov3_avg"),
        Portable.round(lag(col("o_totalprice"), 1).over(o), 2).as("prev_price"),
        Portable.round(lead(col("o_totalprice"), 1).over(o), 2).as("next_price"))
    }),
    // Top-k per group via row_number filter.
    "q13_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          Portable.round(col("o_totalprice"), 2).as("totalprice"), col("rn"))
    }),
    // Set operations.
    "q14_intersect" -> ((s, d) => {
      val o = T.orders(s, d)
      o.where(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.where(col("o_orderstatus") === "F").select("o_custkey"))
    }),
    "q15_except" -> ((s, d) => {
      val o = T.orders(s, d)
      o.where(col("o_orderstatus") === "O").select("o_custkey")
        .except(o.where(col("o_orderstatus") === "F").select("o_custkey"))
    }),
    "q16_union" -> ((s, d) => {
      T.customer(s, d).where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .unionByName(T.orders(s, d).where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")))
        .distinct()
    }),
    // String scalar functions.
    "q17_string_fns" -> ((s, d) => {
      T.part(s, d).select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 5)).as("name_u5"),
        lower(col("p_brand")).as("brand_l"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        concat(trim(col("p_type")), lit("_"), col("p_brand")).as("type_brand"),
        col("p_name").like("%bolt%").as("has_bolt"),
        (col("p_brand") <=> lit("Brand#17")).as("is_b17_nullsafe"))
    }),
    // Date/time scalar functions.
    "q18_datetime_fns" -> ((s, d) => {
      T.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
    }),
    // Math scalar functions.
    "q19_math_fns" -> ((s, d) => {
      T.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        Portable.round(abs(col("l_discount") - 0.05), 4).as("abs_disc"),
        Portable.round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        Portable.round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        Portable.round(log(col("l_extendedprice")), 4).as("ln_price"),
        floor(col("l_tax") * 100).as("tax_floor"),
        ceil(col("l_discount") * 100).as("disc_ceil"))
    }),
    // JSON extraction from the events.props payload.
    "q20_json_extract" -> ((s, d) => {
      T.events(s, d)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
    }),
    // Pivot (crosstab): per-user event-type counts as columns.
    "q4B_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = T.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      // Spark pivot+count yields NULL for absent combos; DuckDB PIVOT
      // fills 0 — align on 0.
      p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    // Unpivot (melt): wide numeric columns to (metric, val) rows.
    "q4C_unpivot" -> ((s, d) => {
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"), col("l_discount").as("disc"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty"), col("disc"), col("tax")), "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          Portable.round(col("val"), 4).as("val"))
    }),
    // Distribution ranks: percent_rank / cume_dist over a unique order.
    "q4D_rank_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      T.orders(s, d).select(
        col("o_orderpriority"), col("o_orderkey"),
        Portable.round(percent_rank().over(w), 6).as("pct_rank"),
        Portable.round(cume_dist().over(w), 6).as("cume"))
    }),
    // Map functions over from_json-parsed payloads.
    "q43_map_json" -> ((s, d) => {
      T.events(s, d)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType)))
        .select(col("event_id"),
          size(col("m")).as("n_keys"),
          element_at(sort_array(map_keys(col("m"))), 1).as("first_key"),
          element_at(col("m"), "k").as("k_val"),
          aggregate(map_values(col("m")), lit(0), (a, v) => a + v).as("vals_sum"))
    }),
    // HAVING (post-aggregation filter).
    "q21_having" -> ((s, d) => {
      T.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .where(col("n_events") > 70)
    }),
    // Global sort + limit (deterministic total order).
    "q22_orderby_limit" -> ((s, d) => {
      T.lineitem(s, d)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          Portable.round(col("l_extendedprice"), 2).as("extendedprice"))
    }),
    // Cross join (small × small).
    "q23_cross_join" -> ((s, d) => {
      T.region(s, d).select("r_name")
        .crossJoin(T.orders(s, d).select("o_orderstatus").distinct())
    }),
    // Full outer join with coalesce.
    "q24_full_outer" -> ((s, d) => {
      val c = T.customer(s, d).groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = T.supplier(s, d).groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),
    // Equi + range (theta) join: lineitems shipped within 30 days of order.
    "q25_range_join" -> ((s, d) => {
      T.orders(s, d)
        .join(T.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_fast_lines"))
    }),
    // Explicit GROUPING SETS (SQL surface; rollup/cube are q09/q10).
    "q26_grouping_sets" -> ((s, d) => {
      T.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(s"""SELECT l_returnflag, l_linestatus,
        ${Portable.roundSql("sum(l_quantity)", 2)} AS sum_qty, count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
          (l_returnflag, l_linestatus), ())""")
    }),
    // Correlated EXISTS / NOT EXISTS subqueries — Catalyst rewrites
    // both to semi/anti joins (RewritePredicateSubquery); the SQL
    // surface is the declared capability, the join plan is the proof.
    "q6E_exists_subquery" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F' AND o.o_totalprice < 5000)""")
    }),
    // Scalar subqueries: uncorrelated (global average threshold) and
    // correlated (per-customer order count / spend) — rewritten by
    // Catalyst into a broadcast scalar + left outer aggregate joins.
    "q6F_scalar_subquery" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(s"""SELECT c_custkey,
          (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          ${Portable.roundSql(
            "(SELECT coalesce(sum(o.o_totalprice), 0.0) FROM orders o WHERE o.o_custkey = c.c_custkey)", 2)} AS total_spend
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)""")
    }),
    // Statistical aggregate portfolio from raw power sums — correlation,
    // regression slope/intercept, skewness, excess kurtosis. One
    // partial-agg shuffle; the moments are derived as projections. The
    // SQL is shared verbatim with the oracle (same association order →
    // same IEEE arithmetic; the quantity moments are integer-valued
    // sums, exact under any summation order).
    "q74_stats_moments" -> ((s, d) => {
      T.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(statsMomentsSql)
    }),
    // LATERAL correlated subquery: per-nation top-2 customers by
    // account balance — Catalyst plans the lateral as a join after
    // DecorrelateInnerQuery; the SQL surface is the capability.
    "q75_lateral_topk" -> ((s, d) => {
      T.nation(s, d).createOrReplaceTempView("nation")
      T.customer(s, d).createOrReplaceTempView("customer")
      s.sql(lateralTopkSql)
    }),
    // Recursive CTE (WITH RECURSIVE, Spark 4): reachability with depth
    // over a synthetic successor graph on nation keys — the anchor +
    // recursive-step union shape, depth-bounded.
    "q76_recursive_reach" -> ((s, d) => {
      T.nation(s, d).createOrReplaceTempView("nation")
      s.sql(recursiveReachSql)
    }),
    // Exact interpolated percentiles (median / p90) per group.
    "q27_percentiles" -> ((s, d) => {
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          Portable.round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          Portable.round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          Portable.round(min(col("l_extendedprice")), 2).as("min_price"),
          Portable.round(max(col("l_extendedprice")), 2).as("max_price"))
    }),
    // Array explode + re-aggregation: top-20 corpus words.
    "q28_word_counts" -> ((s, d) => {
      T.documents(s, d)
        .select(explode(TextStats.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(20)
    }),
    // approx percentile sketch with a bounded-error property: the
    // sketch's median must land within 2% of the exact interpolated one.
    "q4G_approx_percentile" -> ((s, d) => {
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          Portable.round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_median"),
          expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx"))
        .select(col("l_returnflag"), col("exact_median"),
          (abs(col("approx") - col("exact_median")) <=
            col("exact_median") * 0.02).as("approx_ok"))
    }),
    // Edit-distance near-dup pairs over a bounded name set.
    "q4H_edit_distance" -> ((s, d) => {
      val p = T.part(s, d).where(col("p_partkey") < 100)
        .select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .where(col("dist") <= 4)
        .select("id_a", "id_b", "dist")
    }),
    // approx_count_distinct (HLL++) with a bounded-error property the
    // oracle can check: the sketch must land within 10% of exact.
    "q29_approx_distinct" -> ((s, d) => {
      T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_cust"),
          approx_count_distinct(col("o_custkey")).as("approx"))
        .select(col("o_orderpriority"), col("exact_cust"),
          (abs(col("approx") - col("exact_cust")) <=
            col("exact_cust") * 0.1).as("approx_ok"))
    }))

  // ---------------------------------------------------------------- //
  // Time-series surface (§2.2 candle core)                           //
  // ---------------------------------------------------------------- //

  private def timeseries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tick→candle resample (the operation mora's CandleLength exists to
    // serve): one partial-agg shuffle on (event_type, hour bucket).
    "q30_candles_1h" -> ((s, d) => {
      TimeSeries.candlesFromTicks(T.events(s, d), "ts", "value", Some("value"),
          Seq("event_type"), 3600)
        .select(col("event_type"), timestamp_seconds(col("bucket")).as("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"), col("n"))
    }),
    // Hierarchical resample 1h→1d; must equal direct daily aggregation.
    "q31_resample_1d" -> ((s, d) => {
      val hourly = TimeSeries.candlesFromTicks(T.events(s, d), "ts", "value",
          Some("value"), Seq("event_type"), 3600)
        .select(col("event_type"), timestamp_seconds(col("bucket")).as("ts"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
      TimeSeries.resampleCandles(hourly, "ts", 86400, Seq("event_type"))
        .select(col("event_type"), timestamp_seconds(col("bucket")).as("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Gap detection (> 1h silence per user).
    "q32_gaps" -> ((s, d) => {
      TimeSeries.gaps(T.events(s, d), "ts", Seq("user_id"), 3600, Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("gap_sec"))
    }),
    // VWAP per return flag over lineitem prices/quantities.
    "q33_vwap" -> ((s, d) => {
      TimeSeries.vwap(T.lineitem(s, d), "l_extendedprice", "l_quantity", Seq("l_returnflag"))
        .select(col("l_returnflag"), Portable.round(col("vwap"), 4).as("vwap"),
          Portable.round(col("total_qty"), 2).as("total_qty"))
    }),
    // Moving average (5 rows) + cumulative sum per event type.
    "q34_moving_agg" -> ((s, d) => {
      TimeSeries.movingAvg(T.events(s, d), "value", "ts", Seq("event_type"), 5, Seq("event_id"))
        .select(col("event_type"), col("event_id"),
          Portable.round(col("mavg"), 4).as("mavg"), Portable.round(col("csum"), 4).as("csum"))
    }),
    // Technical indicators over hourly candles: SMA(14), Donchian(14),
    // ROC(5), Cutler's RSI(14) — one shuffle on the series key, all
    // rows-frame windows (the EMA variant is spec-gated: recursive).
    "q39_indicators" -> ((s, d) => {
      TimeSeries.indicators(eventCandles(T.events(s, d)),
          "close", "ts", Seq("code"), n = 14, rocN = 5)
        .select(col("code"), col("ts"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("sma"), 4).as("sma"),
          Portable.round(col("donchian_hi"), 4).as("donchian_hi"),
          Portable.round(col("donchian_lo"), 4).as("donchian_lo"),
          Portable.round(col("roc"), 4).as("roc"),
          Portable.round(col("rsi"), 4).as("rsi"))
    }),
    // Batch sessionization (30-min gap).
    "q35_sessionize" -> ((s, d) => {
      TimeSeries.sessionize(T.events(s, d), "ts", Seq("user_id"), 1800, Seq("event_id"))
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"))
    }),
    // The reference's daily prefix-sum index as a query (op I6).
    "q36_daily_cum" -> ((s, d) => {
      TimeSeries.dailyCumulativeCounts(T.events(s, d), "ts", Seq("event_type"))
        .select(col("event_type"), col("day"), col("day_count"), col("cum_before"))
    }),
    // As-of with tolerance: matches farther than 10 minutes go NULL.
    "q47_asof_tolerance" -> ((s, d) => {
      val ev = T.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val views = ev.where(col("event_type") === "view").select("user_id", "ts", "value")
      TimeSeries.asofJoinOpts(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("value"), forward = false, toleranceSec = Some(600))
        .select(col("user_id"), col("event_id"),
          Portable.round(col("asof_value"), 4).as("asof_value"))
    }),
    // Forward as-of: nearest view at-or-after each purchase.
    "q48_asof_forward" -> ((s, d) => {
      val ev = T.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val views = ev.where(col("event_type") === "view").select("user_id", "ts", "value")
      TimeSeries.asofJoinOpts(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("value"), forward = true)
        .select(col("user_id"), col("event_id"),
          Portable.round(col("asof_value"), 4).as("asof_value"))
    }),
    // RANGE window frame (value-based peers, not row counts).
    "q49_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"))
        .rangeBetween(-5, 0)
      T.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        Portable.round(sum(col("l_extendedprice")).over(w), 2).as("near_qty_rev"))
    }),
    // first/last/nth analytic functions over a full-partition frame.
    "q4A_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        Portable.round(first(col("o_totalprice")).over(w), 2).as("first_price"),
        Portable.round(last(col("o_totalprice")).over(w), 2).as("last_price"),
        Portable.round(nth_value(col("o_totalprice"), 2).over(w), 2).as("second_price"))
    }),
    // Sliding windows (2h window, 1h slide): each event lands in two
    // overlapping windows — the built-in window() generator.
    "q4E_sliding_window" -> ((s, d) => {
      T.events(s, d)
        .groupBy(col("event_type"), window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          Portable.round(avg(col("value")), 4).as("avg_value"))
        .select(col("event_type"), col("w.start").as("ts"), col("n"), col("avg_value"))
    }),
    // Gap-fill onto an hourly grid with forward-fill (densify + last
    // observation carried forward — the series-completion op candle
    // consumers need).
    "q38_gapfill" -> ((s, d) => {
      val hourly = TimeSeries.candlesFromTicks(T.events(s, d), "ts", "value",
          Some("value"), Seq("event_type"), 3600)
        .select(col("event_type"), timestamp_seconds(col("bucket")).as("ts"),
          col("close"))
      TimeSeries.gapFill(hourly, "ts", Seq("event_type"), 3600, Seq("close"))
        .select(col("event_type"), col("ts"),
          Portable.round(col("close_filled"), 4).as("close_filled"), col("is_gap"))
    }),
    // As-of join: each purchase sees the latest prior view's value.
    // Routed through the Catalyst plan-node form (AsOfJoinPlan +
    // ResolveAsOfJoin lowering) so the extension path sits inside the
    // correctness gate; q47/q48 keep the direct library path covered.
    "q37_asof_join" -> ((s, d) => {
      val ev = T.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      val views = ev.where(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.plans.AsOf.asofJoin(purchases, views, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("user_id"), col("event_id"), col("ts"),
          Portable.round(col("value"), 4).as("value"),
          Portable.round(col("asof_value"), 4).as("asof_value"))
    }))

  // ---------------------------------------------------------------- //
  // Candle store (reference ops S1-S3, I1-I6, Q1-Q2) + streaming     //
  // ---------------------------------------------------------------- //

  /** Hourly candles per event_type from a slice of the events table,
    * shaped as store rows. Used to drive the upsert differential.
    */
  private def eventCandles(df: DataFrame): DataFrame =
    TimeSeries.candlesFromTicks(df, "ts", "value", Some("value"), Seq("event_type"), 3600)
      .select(lit("EV").as("market"), col("event_type").as("code"),
        lit(3600).as("candle_length"), timestamp_seconds(col("bucket")).as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        lit(0L).as("bit_fields"))

  private val storeCache = fixtureCache[String]()

  /** Build (once per sfDir) a real partitioned-parquet CandleStore by
    * upserting two overlapping event-derived batches — batch B must win
    * on every bucket both batches cover (`page/page.go:114-123` semantics).
    */
  private def eventStore(s: SparkSession, d: String): CandleStore = {
    val path = storeCache.getOrElseUpdate(ek(d), {
      val p = fixtureTmpDir("graft-qstore").toString + "/candles"
      val ev = T.events(s, d)
      val st = CandleStore(s, p)
      st.upsert(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      st.upsert(eventCandles(ev.where(col("event_id") % 3 === 0)))
      p
    })
    CandleStore(s, path)
  }

  private val vstoreCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store from three disjoint
    * event slices committed in tx order 1, 2, 3.
    */
  private def versionedStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = vstoreCache.getOrElseUpdate(ek(d), {
      val p = fixtureTmpDir("graft-qvstore").toString + "/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      // explicit journal wall-clocks make scanAsOfTime deterministic (q82)
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 1)),
        committedAt = Some(java.sql.Timestamp.valueOf("2024-07-01 00:00:00")))
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 2)),
        committedAt = Some(java.sql.Timestamp.valueOf("2024-07-02 00:00:00")))
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)),
        committedAt = Some(java.sql.Timestamp.valueOf("2024-07-03 00:00:00")))
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val mergeStoreCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store whose SECOND batch lands
    * through SQL `MERGE INTO` (graft.plans.VStoreMerge lowering, via
    * the vstore catalog) instead of the Scala `commit()`: first the
    * `%3<>0` event-candle slice commits normally, then the `%3=0`
    * slice merges with `SET * / INSERT *` — the end state must equal
    * q40's two-batch upsert oracle exactly.
    */
  private def mergeStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = mergeStoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmerge").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // catalog name derived from the EPOCH-QUALIFIED cache key, not
      // the dataset dir alone: CatalogManager caches instances (and
      // their captured base) per NAME, so a fresh-fixture bench rep
      // re-setting the same name's base would silently keep merging
      // into the epoch-0 store — see q9V
      val cat = "gvm" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_merge_src")
      s.sql(
        s"""MERGE INTO $cat.v t USING graft_merge_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val deleteStoreCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store whose second statement is
    * a SQL `MERGE … WHEN MATCHED THEN DELETE` (round 15, qA3): batch A
    * (`%3<>0` hourly candles) commits normally, then the `%3=0` batch
    * RESTRICTED to `hour(ts) % 3 = 1` arrives as a delete source — every
    * key present in BOTH is journaled as a tombstone in one tx. The end
    * state must equal A minus the matched keys (DuckDB anti-join
    * oracle); as-of tx 1 still reconstructs full A (spec-gated).
    */
  private def deleteStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = deleteStoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmergedel").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      val cat = "gvd" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .where(hour(col("ts")) % 3 === 1)
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_merge_del_src")
      s.sql(
        s"""MERGE INTO $cat.v t USING graft_merge_del_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED THEN DELETE""")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val condDeleteCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store whose second statement is
    * a CONDITIONED SQL `MERGE … WHEN MATCHED AND <cond> THEN DELETE`
    * composed with `WHEN NOT MATCHED THEN INSERT *` (round 16, qA5):
    * batch A (`%3<>0` hourly candles) commits normally, then the FULL
    * `%3=0` batch arrives as the merge source — matched keys satisfying
    * `hour(ts) % 2 = 0` are journaled as tombstones, matched keys
    * failing it are untouched, and unmatched rows insert, ALL in one
    * tx. End state = (A minus the satisfying matched keys) ∪ (B's
    * unmatched rows) — the DuckDB mirror in [[Oracles]].
    */
  private def condDeleteStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = condDeleteCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmergecdel").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gvq"): q9I already registers
      // "gvc" + d.hashCode, and CatalogManager caches the catalog
      // INSTANCE (and its captured base) per NAME — a reused name would
      // silently route this MERGE into q9I's store (found as a full-
      // corpus-order-only qA5 mismatch: the merge no-op'd here and
      // polluted the other store)
      val cat = "gvq" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_merge_cdel_src")
      s.sql(
        s"""MERGE INTO $cat.v t USING graft_merge_cdel_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED AND hour(s.ts) % 2 = 0 THEN DELETE
           WHEN NOT MATCHED THEN INSERT *""")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  /** Stage an already-`_slice`-labeled frame as single-file streaming
    * sources `<base>/src/b<i>.parquet` (i in [0, nSlices)) with
    * STRICTLY INCREASING mtimes — FileStreamSource admits files ordered
    * by (mtime, path), so without the pin the staging job's task-finish
    * order would leak into micro-batch order and break mid-stream
    * differential checks. One job writes every slice
    * (repartition(_slice) → partitionBy(_slice) — a hash collision just
    * means one task writes two slice dirs, still one file each); each
    * part file is then renamed flat and its mtime pinned (rename
    * preserves the SOURCE mtime, which is task-finish order). An empty
    * slice fails with the diagnostic, not a raw FNFE. Returns the
    * source dir. Shared by every streamed-ingest fixture below.
    */
  private def stageSliceFiles(s: SparkSession, base: String,
                              sliced: DataFrame, nSlices: Int): String = {
    val srcDir = s"$base/src"
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val staging = s"$base/staging"
    sliced.repartition(col("_slice"))
      .write.partitionBy("_slice").parquet(staging)
    val t0 = System.currentTimeMillis()
    (0 until nSlices).foreach { i =>
      val sliceDir = new org.apache.hadoop.fs.Path(s"$staging/_slice=$i")
      if (!fs.exists(sliceDir))
        sys.error(s"slice $i is empty — cannot exercise a " +
          s"$nSlices-micro-batch differential")
      val part = fs.listStatus(sliceDir)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")) match {
        case Array(one) => one
        case other => sys.error(s"expected 1 file for slice $i, got ${other.length}")
      }
      val dst = new org.apache.hadoop.fs.Path(s"$srcDir/b$i.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, t0 + i * 1000L, -1)
    }
    srcDir
  }

  /** Multiset identity check as ONE aggregation (guide §2.3/§2.4 —
    * aggregate before you shuffle, fewer shuffles): tag each side ±1,
    * group by every column, count groups whose signed sum is non-zero —
    * 0 iff the two sides are multiset-equal, exactly the zero-ness the
    * `a.exceptAll(b).unionAll(b.exceptAll(a)).count()` form answered
    * with FOUR aggregations (each side shuffled twice). The map-side
    * partial aggregation also collapses the (heavily duplicated)
    * identical rows before the single exchange.
    */
  private def multisetDiffCount(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_side", lit(1L))
      .unionByName(b.select(cols: _*).withColumn("_side", lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(col("_side")).as("_d"))
      .where(col("_d") =!= 0L).count()
  }

  /** Shared recall-gate fold of the five streamed-vector property
    * queries (q9M/q9Z/q9X/qA4/qA6): per-query hits of `approxPairs`
    * inside the brute-force top-k `exactPairs`, aggregated to ONE row —
    * (n_queries, <extras>, recall_ok = mean recall@k ≥ floor). Both
    * sides are localCheckpoint()ed: each feeds two jobs (the semi-join
    * and the query census) and re-running a stateful probe per job
    * would double the measured operator.
    *
    * `extras` is BY-NAME and evaluated only after both sides'
    * checkpoints land: property queries start their identity-diff
    * count on a background thread ([[Par.detach]]) and pass extras
    * that await it — so the diff job overlaps the two materializations
    * here instead of running before them (guide §2.6).
    */
  private def recallGateRow(exactPairs: DataFrame, approxPairs: DataFrame,
                            extras: => Seq[Column], k: Int = 10,
                            floor: Double = 0.4): DataFrame = {
    // The brute-force side and the index-probe side are INDEPENDENT
    // pipelines — materialize their checkpoints concurrently (guide
    // §2.6) instead of paying the two heaviest jobs of the query back
    // to back. Each still materializes exactly once.
    val matFns: Seq[() => DataFrame] = Seq(
      () => exactPairs.select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(),
      () => approxPairs.select(col("query_id"), col("neighbor_id"))
        .localCheckpoint())
    val Seq(exact, approx) = Par.settleAll(matFns)
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val aggCols = (count(lit(1)).as("n_queries") +: extras) :+
      ((sum(col("n_hit")).cast("double") /
        (count(lit(1)) * k).cast("double") >= floor).as("recall_ok"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .agg(aggCols.head, aggCols.tail: _*)
  }

  private val syncStoreCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store whose second statement is
    * the classic SYNC-TARGET-TO-SOURCE MERGE (round 16, qA7): batch A
    * (`%3<>0` hourly candles) commits normally, then the `%3=0` batch
    * arrives as the full merge source with all THREE arms — matched
    * keys update (`SET *`), unmatched source rows insert, and target
    * keys ABSENT from the source tombstone when they satisfy the
    * fold-key-only retention condition `hour(ts) % 2 = 1` — in ONE
    * journaled tx. End state = B ∪ (A's source-absent keys surviving
    * the condition) — the DuckDB mirror in [[Oracles]]. Exercises the
    * `SET * / INSERT *` fast path COMPOSED with the by-source anti-join
    * tombstone half (no target content scan either way).
    */
  private def syncStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = syncStoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmergesync").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gvs") — CatalogManager caches the
      // catalog INSTANCE per name (see condDeleteStore's collision note)
      val cat = "gvs" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_merge_sync_src")
      s.sql(
        s"""MERGE INTO $cat.v t USING graft_merge_sync_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE AND hour(t.ts) % 2 = 1 THEN DELETE""")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val syncUpdCache = fixtureCache[String]()

  /** Build (once per sfDir) the BY-SOURCE-UPDATE twin of [[syncStore]]
    * (round 17, qAE): the three-arm MERGE's by-source arm REWRITES the
    * source-absent rows from their own content instead of deleting
    * them — `WHEN NOT MATCHED BY SOURCE AND hour(t.ts) % 2 = 1 THEN
    * UPDATE SET volume = t.volume + 100` (a PARTIAL assignment reading
    * target content; the lowering folds the latest rows at the absent
    * keys). End state = B ∪ (A's source-absent rows, odd hours' volume
    * bumped) — the DuckDB mirror in [[Oracles]].
    */
  private def syncUpdStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = syncUpdCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmergesyncupd").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gvz") — see condDeleteStore's note
      val cat = "gvz" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_merge_syncupd_src")
      s.sql(
        s"""MERGE INTO $cat.v t USING graft_merge_syncupd_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE AND hour(t.ts) % 2 = 1
             THEN UPDATE SET volume = t.volume + 100""")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val candleSyncUpdCache = fixtureCache[String]()

  /** Build (once per sfDir) the PLAIN-CANDLE twin of [[syncUpdStore]]
    * (round 17, qAF): the same three-arm MERGE — `SET *` on matched
    * keys, `INSERT *` on new keys, and `WHEN NOT MATCHED BY SOURCE AND
    * hour(t.ts) % 2 = 1 THEN UPDATE SET volume = t.volume + 100` on
    * source-absent rows — lowered onto the plain store, where the
    * by-source rewrite rides the SAME crash-atomic upsert as the other
    * halves (no tombstones involved; the store's one-live-row-per-key
    * scan IS the fold the arm reads). End state identical to qAE's
    * mirror by construction.
    */
  private def candleSyncUpdStore(s: SparkSession, d: String): CandleStore = {
    val path = candleSyncUpdCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qcsyncupd").toString
      val p = s"$base/candles"
      val ev = T.events(s, d)
      val st = CandleStore(s, p)
      st.upsert(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gcu") — see condDeleteStore's note
      val cat = "gcu" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.CandleCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_cmerge_syncupd_src")
      s.sql(
        s"""MERGE INTO $cat.candles t USING graft_cmerge_syncupd_src s
           ON t.market = s.market AND t.code = s.code
              AND t.candle_length = s.candle_length AND t.ts = s.ts
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE AND hour(t.ts) % 2 = 1
             THEN UPDATE SET volume = t.volume + 100""")
      p
    })
    CandleStore(s, path)
  }

  private val sqlDmlCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store mutated by the direct
    * ANSI row-level statements (round 16, qA9): batch A (`%3<>0` hourly
    * candles) commits, then `DELETE FROM … WHERE hour(ts) % 3 = 1`
    * tombstones one tx and `UPDATE … SET close = close * 1.1,
    * volume = volume + 1 WHERE hour(ts) % 3 = 2` rewrites a second —
    * each one pruned scan + one commit of only the affected rows. End
    * state = A minus the deleted hours, with the updated hours'
    * content rewritten — the DuckDB mirror in [[Oracles]].
    */
  private def sqlDmlStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = sqlDmlCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qsqldml").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gvl") — CatalogManager caches the
      // catalog INSTANCE per name (see condDeleteStore's collision note)
      val cat = "gvl" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      s.sql(s"DELETE FROM $cat.v WHERE hour(ts) % 3 = 1")
      s.sql(s"UPDATE $cat.v SET close = close * 1.1, volume = volume + 1 " +
        "WHERE hour(ts) % 3 = 2")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val moveDmlCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store whose second statement is
    * a KEY-MOVING SQL UPDATE (round 16, qAA): batch A (`%3<>0` hourly
    * candles) commits, then `UPDATE … SET ts = ts + INTERVAL 30 MINUTE
    * WHERE hour(ts) % 4 = 3` moves every matched row to a new fold key
    * — old keys tombstoned and rewritten rows inserted in ONE tx (the
    * hourly grid has no :30 keys, so moves collide with nothing). End
    * state = A with the matched rows' ts shifted — the DuckDB mirror.
    */
  private def moveDmlStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = moveDmlCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmovedml").toString
      val p = s"$base/v"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, p)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // prefix UNIQUE per fixture ("gvw") — see condDeleteStore's note
      val cat = "gvw" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      s.sql(s"UPDATE $cat.v SET ts = ts + INTERVAL '30' MINUTE " +
        "WHERE hour(ts) % 4 = 3")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val subqueryDmlCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store mutated by SUBQUERY
    * row-level DML (round 17, qAD): stores `a` (batch `%3<>0`) and `b`
    * (batch `%3=0`) commit under one catalog; then a correlated-EXISTS
    * `DELETE FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.code = a.code
    * AND b.ts = a.ts AND hour % 2 = 0)` tombstones one tx, and an
    * IN-subquery `UPDATE a SET volume = volume + 1 WHERE code IN
    * (SELECT code FROM b GROUP BY code HAVING count(*) % 2 = 0)`
    * rewrites a second — both lowered through the statement's own
    * resolved filter plan (Spark's subquery rewrite plans the
    * semi-join), exact integer predicates only so the mirror is
    * ulp-safe. End state = a minus b's even-hour keys, with the
    * even-count codes' volume bumped — the DuckDB mirror in [[Oracles]].
    */
  private def subqueryDmlStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = subqueryDmlCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qsubdml").toString
      val ev = T.events(s, d)
      val stA = graft.store.VersionedCandleStore(s, s"$base/a")
      stA.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      graft.store.VersionedCandleStore(s, s"$base/b")
        .commit(eventCandles(ev.where(col("event_id") % 3 === 0)))
      // prefix UNIQUE per fixture ("gvy") — see condDeleteStore's note
      val cat = "gvy" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      s.sql(s"""DELETE FROM $cat.a WHERE EXISTS (
           SELECT 1 FROM $cat.b b
           WHERE b.code = a.code AND b.ts = a.ts AND hour(b.ts) % 2 = 0)""")
      s.sql(s"""UPDATE $cat.a SET volume = volume + 1 WHERE code IN (
           SELECT code FROM $cat.b GROUP BY code HAVING count(*) % 2 = 0)""")
      s"$base/a"
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val contentViewCache = fixtureCache[(String, String)]()

  private def mkContentView(s: SparkSession, st: graft.store.VersionedCandleStore,
                            vp: String): graft.store.IncrementalView =
    new graft.store.IncrementalView(s, vp, st,
      Seq("code" -> col("code"), "day" -> to_date(col("ts")),
        "tier" -> (col("open") >= 50.123).cast("int")),
      Seq(count(lit(1)).as("n"),
        Portable.round(sum(col("volume")), 4).as("vol"),
        Portable.round(max(col("close")), 4).as("max_close")))

  /** Build (once per sfDir) the CONTENT-derived-group twin of
    * [[incViewStore]] (round 17, qAC): the view groups on a volume
    * tier computed FROM ROW CONTENT (`open >= 50.123` — a raw stored
    * double, so the tier is ulp-stable across engines) alongside the
    * key-derived (code, day). Batch A commits and the view builds;
    * then batch B upserts (moving keys between tiers where B's open
    * crosses the threshold) and every `hour(ts) % 3 = 1` key is
    * tombstone-deleted; the second refresh is the graded path — it
    * reads the PRE-IMAGE feed ([[graft.store.VersionedCandleStore
    * .changesSincePre]]) to learn the tier each changed key LEFT
    * (a tombstone's zeroed content cannot name it), re-aggregates
    * exactly the touched (code, day, tier) groups, and must equal the
    * DuckDB full-recompute mirror.
    */
  private def contentViewStore(s: SparkSession, d: String): graft.store.IncrementalView = {
    val (sp, vp) = contentViewCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qcontview").toString
      val spath = s"$base/v"
      val vpath = s"$base/view"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, spath)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      mkContentView(s, st, vpath).refresh()
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)))
      st.delete(eventCandles(ev).where(hour(col("ts")) % 3 === 1)
        .select("market", "code", "candle_length", "ts"))
      mkContentView(s, st, vpath).refresh()
      (spath, vpath)
    })
    mkContentView(s, graft.store.VersionedCandleStore(s, sp), vp)
  }

  /** The content-view fixture's STORE path (txs: 1 = batch A, 2 =
    * batch B upsert, 3 = tombstone delete of the hour%3=1 keys) —
    * qAH reads its PRE-IMAGE feed through the DataSource reader.
    */
  private def contentViewStorePath(s: SparkSession, d: String): String = {
    contentViewStore(s, d) // ensure the fixture is built
    contentViewCache(ek(d))._1
  }

  private val sqlViewCache = fixtureCache[String]()

  /** Build (once per sfDir) a store plus a CONTENT-grouped incremental
    * view maintained ENTIRELY through SQL (round 18, qAG — the qAC
    * semantics with every view-lifecycle step a SQL statement): batch A
    * commits, `CALL create_view` persists the (code, day, open-tier)
    * definition and runs the first refresh; batch B upserts (moving
    * keys between tiers) and a SQL `DELETE` tombstones the hour%3=1
    * keys; `CALL refresh_view` brings the view current — the refresh
    * rides the pre-image feed for the content tier exactly like the
    * Scala path. End state must equal the qAC full-recompute mirror.
    */
  private def sqlViewBase(s: SparkSession, d: String): String = {
    sqlViewCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qsqlview").toString
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, s"$base/v")
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      val cat = sqlViewCat(s, d, base)
      s.sql(s"""CALL $cat.system.create_view('v_tier', 'v',
           'code, to_date(ts) AS day, CAST(open >= 50.123 AS INT) AS tier',
           'count(1) AS n, ${Portable.roundSql("sum(volume)", 4)} AS vol,
            ${Portable.roundSql("max(close)", 4)} AS max_close')""")
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)))
      s.sql(s"DELETE FROM $cat.v WHERE hour(ts) % 3 = 1")
      s.sql(s"CALL $cat.system.refresh_view('v_tier')")
      base
    })
  }

  private def sqlViewCat(s: SparkSession, d: String, base: String): String = {
    // prefix UNIQUE per fixture ("gvu") — see condDeleteStore's note
    val cat = "gvu" + (ek(d).hashCode & 0x7fffffff)
    setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
    setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
    cat
  }

  private val viewDdlCache = fixtureCache[String]()

  /** Build (once per sfDir) the view-DDL create-MODES fixture (round
    * 19, qAL): batch A commits; `CREATE MATERIALIZED VIEW` persists an
    * initial count-only definition; batch B commits; `CREATE OR
    * REPLACE MATERIALIZED VIEW` swaps in the graded definition (count +
    * vol + max_close) — the old definition's generations are dropped
    * with it and the replacement refreshes to the committed head; a
    * trailing `CREATE MATERIALIZED VIEW IF NOT EXISTS` with a THIRD
    * definition must be a no-op (the existing definition wins, CREATE
    * TABLE IF NOT EXISTS semantics). End state must equal the full
    * recompute of the REPLACED definition over both batches, watermark
    * at tx 2.
    */
  private def viewDdlBase(s: SparkSession, d: String): String =
    viewDdlCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qviewddl").toString
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, s"$base/v")
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))   // tx 1
      val cat = viewDdlCat(s, d, base)
      s.sql(s"""CREATE MATERIALIZED VIEW $cat.vd AS
           SELECT code, to_date(ts) AS day, count(1) AS n
           FROM $cat.v GROUP BY code, day""")
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)))   // tx 2
      s.sql(s"""CREATE OR REPLACE MATERIALIZED VIEW $cat.vd AS
           SELECT code, to_date(ts) AS day, count(1) AS n,
             ${Portable.roundSql("sum(volume)", 4)} AS vol,
             ${Portable.roundSql("max(close)", 4)} AS max_close
           FROM $cat.v GROUP BY code, day""")
      s.sql(s"""CREATE MATERIALIZED VIEW IF NOT EXISTS $cat.vd AS
           SELECT code, count(1) AS n FROM $cat.v GROUP BY code""")
      base
    })

  private def viewDdlCat(s: SparkSession, d: String, base: String): String = {
    // prefix UNIQUE per fixture ("gvr") — see condDeleteStore's note
    val cat = "gvr" + (ek(d).hashCode & 0x7fffffff)
    setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
    setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
    cat
  }

  private val viewStreamCache = fixtureCache[String]()

  /** Build (once per sfDir) the VIEW-FEED-AS-A-STREAM result (round 19,
    * qAK — qAI's diff consumed through `readStream.format("graft-view")`
    * instead of the Scala API): the stream tails qAG's SQL-created view
    * from its held generation (tx 1 — batch A's first refresh), so its
    * one micro-batch is exactly the (1,0)→(3,0) generation diff the
    * hand-polled `changesSinceGeneration(1)` serves; the batch lands in
    * a parquet dir the query then reads. Offsets are (watermark tx,
    * repair rev) generation identities ([[graft.sources.GraftViewSource]]).
    */
  private def viewStreamFeed(s: SparkSession, d: String): String =
    viewStreamCache.getOrElseUpdate(ek(d), {
      val viewDir = s"${sqlViewBase(s, d)}/v_tier"
      val outDir = fixtureTmpDir("graft-qviewstream").toString + "/feed"
      val q = s.readStream.format("graft-view")
        .option("sinceTx", 1).load(viewDir)
        .writeStream
        .option("checkpointLocation",
          fixtureTmpDir("graft-qviewstream-ckpt").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      outDir
    })

  private val sqlXstoreCache = fixtureCache[(String, String)]()

  /** Build (once per sfDir) the SQL-ONLY cross-store fixture (round 19,
    * qAJ — the qA0 atomicity with every step a SQL statement): a candle
    * catalog and a vstore catalog register over one base; CREATE TABLE
    * stamps both stores; `CALL cross_store_write` commits the `%3=1`
    * event-candle slice into the candle table AND the `%3=2` slice into
    * the vstore table as ONE atomic named tx (reference: the
    * multi-command WAL transaction, `database/database.go:27-51`); a
    * re-CALL of the same name returns the recorded tokens without
    * re-executing (exactly-once through SQL), and `CALL
    * cross_store_recover` finds nothing pending. Returns the two
    * catalog names; the qAJ reads are catalog SELECTs.
    */
  private def sqlCrossCats(s: SparkSession, d: String): (String, String) =
    sqlXstoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qsqlxstore").toString
      // prefixes UNIQUE per fixture ("gxc"/"gxv") — see condDeleteStore
      val h = ek(d).hashCode & 0x7fffffff
      val (catC, catV) = ("gxc" + h, "gxv" + h)
      setEpochConf(s, s"spark.sql.catalog.$catC", classOf[graft.sources.CandleCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$catC.base", s"$base/c")
      setEpochConf(s, s"spark.sql.catalog.$catV", classOf[graft.sources.VStoreCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$catV.base", s"$base/v")
      s.sql(s"CREATE TABLE $catC.candles")
      s.sql(s"CREATE TABLE $catV.v")
      val ev = T.events(s, d)
      eventCandles(ev.where(col("event_id") % 3 === 1))
        .createOrReplaceTempView("graft_qaj_c")
      eventCandles(ev.where(col("event_id") % 3 === 2))
        .createOrReplaceTempView("graft_qaj_v")
      def write() = s.sql(
        s"""CALL $catC.system.cross_store_write('qaj-b0', '$base/txs',
           '$catC.candles', 'graft_qaj_c',
           '$catV.v', 'SELECT * FROM graft_qaj_v')""").collect().head
      val first = write()
      val again = write()
      require(first.getString(1) == again.getString(1) &&
        first.getLong(2) == again.getLong(2),
        "same-name re-CALL must return the recorded tokens, not re-run")
      require(s.sql(s"CALL $catV.system.cross_store_recover('$base/txs')")
        .collect().head.getInt(0) == 0, "nothing pending after the commit")
      (catC, catV)
    })

  private val maintStoreCache = fixtureCache[String]()

  /** Build (once per sfDir) a versioned store maintained through SQL
    * ONLY (round 17, qAB): batches A then B commit (last-wins on shared
    * keys), then `CALL <cat>.system.compact` squashes history to one
    * version per key (atomic generation swap, floor = 2),
    * `CALL …checkpoint_journal` rolls the journal tails into one file,
    * and `CALL …vacuum(min_age_ms => 0)` sweeps debris — the
    * maintenance surface a SQL-only operator needs ([[graft.sources
    * .MaintenanceProcedure]]). The graded read is the post-maintenance
    * catalog read plus the squash floor observed via `CALL …history`
    * — both must match the two-batch last-wins DuckDB mirror with
    * floor 2 exactly.
    */
  private def maintStore(s: SparkSession, d: String): String = {
    maintStoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qmaint").toString
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, s"$base/v")
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)))
      // prefix UNIQUE per fixture ("gvt") — see condDeleteStore's note
      val cat = maintCat(s, d, base)
      s.sql(s"CALL $cat.system.compact('v')")
      s.sql(s"CALL $cat.system.checkpoint_journal('v')")
      s.sql(s"CALL $cat.system.vacuum('v', min_age_ms => 0)")
      base
    })
  }

  private def maintCat(s: SparkSession, d: String, base: String): String = {
    val cat = "gvt" + (ek(d).hashCode & 0x7fffffff)
    setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.VStoreCatalog].getName)
    setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
    cat
  }

  private val incViewCache = fixtureCache[(String, String)]()

  private def mkIncView(s: SparkSession, st: graft.store.VersionedCandleStore,
                        vp: String): graft.store.IncrementalView =
    new graft.store.IncrementalView(s, vp, st,
      Seq("code" -> col("code"), "day" -> to_date(col("ts"))),
      Seq(count(lit(1)).as("n"),
        Portable.round(sum(col("volume")), 4).as("vol"),
        Portable.round(max(col("close")), 4).as("max_close")))

  /** Build (once per sfDir) a versioned store plus an INCREMENTALLY
    * maintained aggregate view over it (round 16, qA8): batch A
    * (`%3<>0` hourly candles) commits and the view refreshes (full
    * build); then batch B (`%3=0`) upserts and every key with
    * `hour(ts) % 3 = 1` is tombstone-deleted, and the view refreshes
    * AGAIN — this second refresh is the graded path: it re-aggregates
    * only the groups the change feed touched (broadcast semi-join +
    * key-column isin pushdown into the base scan), carries untouched
    * groups forward from the previous generation, and drops groups
    * whose every row died. The refreshed view must equal a full
    * `GROUP BY code, day` recompute of the end state — the DuckDB
    * mirror in [[Oracles]].
    */
  private def incViewStore(s: SparkSession, d: String): graft.store.IncrementalView = {
    val (sp, vp) = incViewCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qincview").toString
      val spath = s"$base/v"
      val vpath = s"$base/view"
      val ev = T.events(s, d)
      val st = graft.store.VersionedCandleStore(s, spath)
      st.commit(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      mkIncView(s, st, vpath).refresh()
      st.commit(eventCandles(ev.where(col("event_id") % 3 === 0)))
      st.delete(eventCandles(ev).where(hour(col("ts")) % 3 === 1)
        .select("market", "code", "candle_length", "ts"))
      mkIncView(s, st, vpath).refresh()
      (spath, vpath)
    })
    mkIncView(s, graft.store.VersionedCandleStore(s, sp), vp)
  }

  private val candleMergeCache = fixtureCache[String]()

  /** Build (once per sfDir) a PLAIN candle store whose second batch
    * lands through SQL `MERGE INTO` on the candle catalog (round 13,
    * qA2 — the candle twin of [[mergeStore]], closing the SQL gap where
    * the plain catalog had only `INSERT INTO`): batch A (`%3<>0`)
    * upserts normally, then batch B (`%3=0`) lands as TWO half-merges —
    * `WHEN MATCHED UPDATE SET *` then `WHEN NOT MATCHED INSERT *` — so
    * BOTH the semi and the anti split paths of the lowering are
    * exercised (qA1 covers the no-target-scan `SET * / INSERT *`
    * shape). The end state must equal q40's two-batch upsert oracle.
    */
  private def candleMergeStore(s: SparkSession, d: String): CandleStore = {
    val path = candleMergeCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qcmerge").toString
      val p = s"$base/candles"
      val ev = T.events(s, d)
      val st = CandleStore(s, p)
      st.upsert(eventCandles(ev.where(col("event_id") % 3 =!= 0)))
      // epoch-qualified for the same reason as mergeStore's
      val cat = "gcm" + (ek(d).hashCode & 0x7fffffff)
      setEpochConf(s, s"spark.sql.catalog.$cat", classOf[graft.sources.CandleCatalog].getName)
      setEpochConf(s, s"spark.sql.catalog.$cat.base", base)
      eventCandles(ev.where(col("event_id") % 3 === 0))
        .withColumn("year", year(col("ts")))
        .createOrReplaceTempView("graft_cmerge_src")
      val on = """ON t.market = s.market AND t.code = s.code
           AND t.candle_length = s.candle_length AND t.ts = s.ts"""
      s.sql(s"""MERGE INTO $cat.candles t USING graft_cmerge_src s $on
           WHEN MATCHED THEN UPDATE SET *""")
      s.sql(s"""MERGE INTO $cat.candles t USING graft_cmerge_src s $on
           WHEN NOT MATCHED THEN INSERT *""")
      p
    })
    CandleStore(s, path)
  }

  private val xstoreCache = fixtureCache[(String, String)]()

  /** Build (once per sfDir) the CROSS-STORE atomic-commit fixture
    * (reference: one WAL tx spanning several commands,
    * `database/database.go:27-51`): tx `xs-commit` — a CandleStore
    * upsert of the `%3=1` event-candle slice AND a VersionedCandleStore
    * commit of the `%3=2` slice as ONE tx — simulates a crash right
    * after its commit marker published (neither store finalized), and
    * tx `xs-torn` (the `%3=0` slice on both stores) crashes BEFORE its
    * marker. Recovery then rolls `xs-commit` forward on BOTH stores;
    * `xs-torn` stays invisible on BOTH. The reads below are therefore
    * exact-or-nothing per tx — the qA0 oracle sees slice 1 in the
    * candle store, slice 2 in the versioned store, and slice 0 nowhere.
    */
  private def crossStores(s: SparkSession, d: String): (CandleStore, graft.store.VersionedCandleStore) = {
    import graft.store.CrossStoreTx
    val (cp, vp) = xstoreCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-xstore").toString
      val ev = T.events(s, d)
      val cs = CandleStore(s, s"$base/candles")
      val vs = graft.store.VersionedCandleStore(s, s"$base/v")
      val coord = s"$base/txs"
      def crashed(body: => Unit): Unit =
        try { body; sys.error("expected simulated crash") }
        catch { case _: graft.store.CrossStoreTx.SimulatedCrash => () }
      crashed(CrossStoreTx.executeInternal(s, coord, "xs-commit",
        Seq(CrossStoreTx.CandleUpsert(cs,
            eventCandles(ev.where(col("event_id") % 3 === 1))),
          CrossStoreTx.VersionedCommit(vs,
            eventCandles(ev.where(col("event_id") % 3 === 2)),
            committedAt = Some(java.sql.Timestamp.valueOf("2024-07-01 00:00:00")))),
        crashAfter = 2))
      crashed(CrossStoreTx.executeInternal(s, coord, "xs-torn",
        Seq(CrossStoreTx.CandleUpsert(cs,
            eventCandles(ev.where(col("event_id") % 3 === 0))),
          CrossStoreTx.VersionedCommit(vs,
            eventCandles(ev.where(col("event_id") % 3 === 0)))),
        crashAfter = 1))
      CrossStoreTx.recover(s, coord)
      (s"$base/candles", s"$base/v")
    })
    (CandleStore(s, cp), graft.store.VersionedCandleStore(s, vp))
  }

  private val streamCache = fixtureCache[String]()

  /** Structured-Streaming ingest differential: split the events table
    * into three disjoint TIME slices (one file each), stream them with
    * `maxFilesPerTrigger=1` (AvailableNow) so the driver-visible
    * differential exercises ≥3 micro-batches of upsert + checkpoint,
    * aggregate each micro-batch to 1s candles, upsert via foreachBatch,
    * return the final table state. Slice boundaries are whole seconds,
    * so no 1s candle bucket spans two batches and the final upserted
    * state equals the one-shot batch aggregation (the oracle) regardless
    * of file order.
    */
  /** Split the events table into three second-aligned time slices as
    * single files b0/b1/b2 under `base/src` ([[stageSliceFiles]]), in
    * the schema of [[Tables.events]]. Slice i covers `[cut_i, cut_i+1)`
    * with cut1/cut2 at 1/3 and 2/3 of the ns time range, floored to
    * whole seconds (so no 1s candle bucket spans two slices).
    */
  private val sliceCache = fixtureCache[String]()

  /** Slices depend only on the dataset — share one srcDir between the
    * plain and versioned streaming fixtures instead of re-reading and
    * re-staging the events table per store.
    */
  private def sliceEventFiles(s: SparkSession, d: String, base: String): String =
    sliceCache.getOrElseUpdate(ek(d), buildSliceFiles(s, d, base))

  private def buildSliceFiles(s: SparkSession, d: String, base: String): String = {
    // events.ts encoding varies across driver regenerations (raw
    // nanos / NTZ µs — see Tables.normalizeEventTs); canonicalize
    // FIRST, then slice on epoch micros, so the written slices always
    // carry µs UTC timestamps and the stream needs no conversion.
    val raw = Tables.events(s, d)
    val tsUs = unix_micros(col("ts"))
    val mm = raw.agg(min(tsUs), max(tsUs)).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    def secondAligned(us: Long): Long = us / 1000000L * 1000000L
    val cut1 = secondAligned(mn + (mx - mn) / 3)
    val cut2 = secondAligned(mn + 2 * (mx - mn) / 3)
    stageSliceFiles(s, base,
        raw.withColumn("_slice",
        when(tsUs < cut1, 0).when(tsUs < cut2, 1).otherwise(2)),
      nSlices = 3)
  }

  /** The per-micro-batch tick→1s-candle transform shared by the plain
    * and versioned streaming fixtures.
    */
  private def eventCandleTransform(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TimeSeries.candlesFromTicks(batch, "ts", "value", Some("value"),
        Seq("event_type"), 1)
      .select(lit("EVS").as("market"), col("event_type").as("code"),
        lit(1).as("candle_length"), timestamp_seconds(col("bucket")).as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        lit(0L).as("bit_fields"))

  private def streamedStore(s: SparkSession, d: String): CandleStore = {
    val path = streamCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qstream").toString
      val p = s"$base/candles"
      val stream = s.readStream.schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sliceEventFiles(s, d, base)) // canonical µs UTC ts
      val st = CandleStore(s, p)
      val q = graft.streaming.Ingest.startUpsertIngest(stream, st, s"$base/ckpt",
        transform = eventCandleTransform)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streaming differential must exercise >=3 micro-batches, saw $batches")
      p
    })
    CandleStore(s, path)
  }

  private val vstreamCache = fixtureCache[String]()

  /** Streamed VERSIONED store: the same 3-slice differential, but each
    * micro-batch becomes one journaled transaction — streaming ingest
    * that produces time-travelable history (the reference's WAL is its
    * streaming ingest). Slice order is mtime-pinned, so `scanAsOf(2)`
    * is exactly the first two time slices.
    */
  private def streamedVersionedStore(s: SparkSession, d: String): graft.store.VersionedCandleStore = {
    val path = vstreamCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qvstream").toString
      val p = s"$base/v"
      val stream = s.readStream.schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sliceEventFiles(s, d, base)) // canonical µs UTC ts
      val vst = graft.store.VersionedCandleStore(s, p)
      val q = graft.streaming.Ingest.startVersionedIngest(stream, vst, s"$base/ckpt",
        transform = eventCandleTransform)
      q.awaitTermination()
      require(vst.latestTxId == 3L,
        s"streamed versioned ingest must journal 3 txs, saw ${vst.latestTxId}")
      p
    })
    graft.store.VersionedCandleStore(s, path)
  }

  private val bucketCache = fixtureCache[(String, String)]()

  /** Write (once per sfDir) customer and orders as managed tables
    * bucketed on custkey — the join key's shuffle paid once at write
    * time, so every later join/agg on custkey is exchange-free
    * (SURVEY §7.3.1 deferred item, now closed).
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val built = bucketCache.getOrElseUpdate(ek(d), {
      val sfx = java.lang.Long.toHexString(d.hashCode & 0xffffffffL)
      val ct = s"graft_b_customer_$sfx"
      val ot = s"graft_b_orders_$sfx"
      graft.ops.Bucketing.saveBucketed(T.customer(s, d), ct, Seq("c_custkey"), 8)
      graft.ops.Bucketing.saveBucketed(T.orders(s, d), ot, Seq("o_custkey"), 8)
      (ct, ot)
    })
    // The cache is per-JVM but tables are per-session state: a cloned
    // session (foreachBatch) shares the catalog, so existence implies
    // readable.
    built
  }

  private val ysfCache = fixtureCache[String]()

  /** Build (once per sfDir) a `.ysf` page tree from the event-derived
    * hourly candles — the reference's own on-disk format, written and
    * then read back by our codec, checked against a DuckDB oracle that
    * never sees the binary format.
    */
  private def ysfStoreDir(s: SparkSession, d: String): String =
    ysfCache.getOrElseUpdate(ek(d), {
      val p = fixtureTmpDir("graft-ysf").toString
      graft.sources.Ysf.write(eventCandles(T.events(s, d)), p)
      p
    })

  private val moraRootCache = fixtureCache[String]()

  /** Build (once per sfDir) a full mora deployment directory: flushed
    * `.ysf` pages holding a STALE version of the 'click' candles
    * (values halved — binary-exact, no precision loss), plus WAL logs
    * carrying (a) a COMMITTED correction tx with the true 'click'
    * candles and (b) an UNCOMMITTED tx of poisoned 'view' candles
    * (+1000 everywhere) that replay must drop. After migration the
    * store must equal the plain hourly-candle oracle — which only
    * holds if WAL decode, committed-only gating, AND wal-over-pages
    * ordering all work. Driver-side collect is bounded by construction:
    * hourly buckets of one event_type (≤ 8784/year/series).
    */
  private def moraRootDir(s: SparkSession, d: String): String =
    moraRootCache.getOrElseUpdate(ek(d), {
      import graft.sources.MoraWal
      val p = fixtureTmpDir("graft-morawal").toString
      val candles = eventCandles(T.events(s, d)).cache()
      val half = (c: org.apache.spark.sql.Column) =>
        when(col("code") === "click", c * 0.5d).otherwise(c)
      graft.sources.Ysf.write(
        candles.select(col("market"), col("code"), col("candle_length"),
          col("ts"), half(col("open")).as("open"), half(col("high")).as("high"),
          half(col("low")).as("low"), half(col("close")).as("close"),
          half(col("volume")).as("volume"), col("bit_fields")), p)
      def walCandles(code: String, shift: Double): Map[Int, Seq[MoraWal.WalCandle]] =
        candles.where(col("code") === code)
          .select(col("ts"), col("open"), col("high"), col("low"),
            col("close"), col("volume"), col("bit_fields"))
          .collect().toSeq
          .map { r =>
            val sec = r.getTimestamp(0).getTime / 1000L
            (java.time.Instant.ofEpochSecond(sec)
              .atZone(java.time.ZoneOffset.UTC).getYear,
              MoraWal.WalCandle(sec, r.getDouble(1) + shift, r.getDouble(2) + shift,
                r.getDouble(3) + shift, r.getDouble(4) + shift,
                r.getDouble(5) + shift, r.getLong(6)))
          }
          .groupBy(_._1).map { case (y, rs) => (y, rs.map(_._2)) }
      // file 1: the committed correction (one insert per year + commit)
      MoraWal.writeLog(s, s"$p/wal/wal.100000101.log",
        walCandles("click", 0.0).toSeq.sortBy(_._1).map { case (y, cs) =>
          MoraWal.WalInsert(101L, "EV", "click", 3600, y, cs)
        } :+ MoraWal.WalCommit(101L))
      // file 2: the in-flight tail — inserts, NO commit record
      MoraWal.writeLog(s, s"$p/wal/wal.100000102.log",
        walCandles("view", 1000.0).toSeq.sortBy(_._1).map { case (y, cs) =>
          MoraWal.WalInsert(102L, "EV", "view", 3600, y, cs)
        })
      candles.unpersist()
      p
    })

  private def store: Map[String, (SparkSession, String) => DataFrame] = Map(
    // mora WAL-log interop: migrate a deployment dir whose pages hold
    // stale 'click' candles corrected only by an unflushed committed
    // WAL tx, with an uncommitted poison tx alongside. Matching the
    // plain hourly-candle oracle proves decode + committed-only gating
    // + wal-over-pages redo order, end to end.
    "q9T_wal_replay" -> ((s, d) => {
      graft.sources.MoraWal
        .migrateFromMora(s, moraRootDir(s, d),
          fixtureTmpDir("graft-walstore").toString + "/s")
        .scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // The dropped tail, surfaced: rows of the never-committed tx — what
    // mora's own recovery would discard, reported instead of lost.
    "q9U_wal_tail" -> ((s, d) => {
      graft.sources.MoraWal.uncommittedTail(s, s"${moraRootDir(s, d)}/wal")
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Plain-store catalog read: the same partition-pruned point "page"
    // lookup as q41, but addressed as a SQL NAME through CandleCatalog
    // (pruning under the catalog is plan-asserted in CandleCatalogSpec).
    "q9V_candle_catalog" -> ((s, d) => {
      val storePath = eventStore(s, d).path
      val base = storePath.substring(0, storePath.lastIndexOf('/'))
      // Catalog name derived from the dataset dir: CatalogManager caches
      // instances per session by name, so a fixed name would pin the
      // first SF's `base` forever if two sfDirs share a session.
      val cat = "gcand" + (d.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.CandleCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(
        s"""SELECT ts, round(close, 4) AS close, round(volume, 4) AS volume
           FROM $cat.candles
           WHERE market = 'EV' AND code = 'click'
             AND candle_length = 3600 AND year = 2024""")
    }),
    // .ysf interop round trip: encode event-derived candles as reference
    // page files (60B header + daily index + 48B blocks), decode them
    // back, and match the hourly-candle oracle computed from raw events.
    "q62_ysf_roundtrip" -> ((s, d) => {
      graft.sources.Ysf.read(s, ysfStoreDir(s, d))
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Bucketed co-located join: both sides pre-bucketed on custkey, so
    // the whole join + per-customer aggregation pipeline runs with ZERO
    // exchanges (asserted in JoinsSpec) — the 100 TB fact-table pattern
    // where the shuffle is paid once at write time.
    "q64_bucketed_join" -> ((s, d) => {
      val (ct, ot) = bucketedTables(s, d)
      graft.ops.Bucketing.bucketedJoin(s, ct, ot, Seq("c_custkey"), Seq("o_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_orders"),
          Portable.round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),
    // Upsert-merge differential: end state after two overlapping batches
    // (new-batch-wins per (key, ts); reference op I1).
    "q40_store_upsert" -> ((s, d) => {
      eventStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Point "page" lookup — partition-pruned scan of one series-year
    // (reference op Q1).
    "q41_store_prune" -> ((s, d) => {
      eventStore(s, d).readPage("EV", "click", 3600, 2024)
        .select(col("ts"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Range scan of one series across a time window — partition pruning
    // + parquet row-group stats (reference: ranged page reads).
    "q42_store_range" -> ((s, d) => {
      eventStore(s, d).rangeScan("EV", "view", 3600,
          java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
        .select(col("ts"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Versioned store, read AS OF tx 2 of 3: time travel over the
    // append-only tx-stamped layout (reference LastTxId semantics,
    // page/header.go:13-23 + wal/counter.go). The oracle reconstructs
    // the first-two-batches last-wins state; the third committed batch
    // must be invisible.
    "q7E_store_asof" -> ((s, d) => {
      versionedStore(s, d).scanAsOf(2L)
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // SQL MERGE INTO the versioned store (round 11): the second batch
    // lands through the MERGE lowering instead of Scala commit() — the
    // end state must equal q40's two-batch last-wins oracle, and the
    // merge is ONE journaled tx (as-of history intact).
    "qA1_vstore_merge_sql" -> ((s, d) => {
      mergeStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // SQL MERGE WHEN MATCHED THEN DELETE (round 15): the matched slice
    // of batch B tombstones its keys in ONE journaled tx — the latest
    // fold must equal batch A minus the matched keys (DuckDB anti-join
    // oracle), while pre-delete history stays reconstructable
    // (VersionedStoreSpec/VStoreMergeSpec gate as-of + change feed).
    "qA3_vstore_merge_delete" -> ((s, d) => {
      deleteStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // CONDITIONED MERGE DELETE composed with INSERT (round 16): one tx
    // where matched keys satisfying `hour(ts) % 2 = 0` tombstone,
    // matched keys failing it stay untouched, and unmatched source rows
    // insert — the latest fold must equal (A minus the satisfying
    // matched keys) ∪ (B's unmatched rows), the DuckDB mirror.
    "qA5_vstore_merge_delete_cond" -> ((s, d) => {
      condDeleteStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // SYNC MERGE (round 16): all three arms in one tx — matched keys
    // take B's row (SET *), unmatched B rows insert, and A's keys
    // absent from B tombstone when `hour(ts) % 2 = 1`. The latest fold
    // must equal B ∪ (A's source-absent keys surviving the retention
    // condition) — the DuckDB mirror.
    "qA7_vstore_merge_sync" -> ((s, d) => {
      syncStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // BY-SOURCE-UPDATE MERGE (round 17): the sync merge's fourth arm —
    // source-absent rows REWRITTEN from their own content (partial SET
    // over the folded target rows) in the same tx as SET * / INSERT *;
    // the latest fold must equal B ∪ (A's absent rows, odd hours'
    // volume bumped) — the DuckDB mirror.
    "qAE_vstore_merge_sync_upd" -> ((s, d) => {
      syncUpdStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // CANDLE BY-SOURCE-UPDATE MERGE (round 17): qAE's three-arm sync
    // merge on the PLAIN store — the by-source rewrite rides the same
    // crash-atomic upsert as the other halves (no tombstones); end
    // state == qAE's mirror by construction.
    "qAF_candle_merge_sync_upd" -> ((s, d) => {
      candleSyncUpdStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // SQL row-level DML (round 16): DELETE FROM tombstones one tx,
    // UPDATE rewrites a second — the latest fold must equal A minus the
    // hour%3=1 rows with the hour%3=2 rows' content rewritten.
    "qA9_vstore_sql_dml" -> ((s, d) => {
      sqlDmlStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // KEY-MOVING SQL UPDATE (round 16): matched rows move to new fold
    // keys — old keys tombstoned + rewritten rows inserted in one tx;
    // the latest fold must equal A with the hour%4=3 rows' ts shifted.
    "qAA_vstore_update_move" -> ((s, d) => {
      moveDmlStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // SQL-ONLY MAINTENANCE (round 17): compact + checkpoint_journal +
    // vacuum run as CALL procedures on the vstore catalog; the
    // post-maintenance catalog read must equal the two-batch last-wins
    // mirror, and the squash floor observed via CALL history must be
    // exactly tx 2 — proving the squash journaled and changed nothing.
    "qAB_sql_maintenance" -> ((s, d) => {
      val cat = maintCat(s, d, maintStore(s, d))
      val floor = s.sql(s"CALL $cat.system.history('v')")
        .where(col("kind") === "compact")
        .agg(max(col("tx_id"))).head().getLong(0)
      s.sql(
        s"""SELECT code, ts, round(open, 4) AS open, round(close, 4) AS close,
           round(volume, 4) AS volume FROM $cat.v""")
        .withColumn("squash_floor_tx", lit(floor))
    }),
    // INCREMENTAL MATERIALIZED VIEW (round 16): after upserts + deletes
    // land, refresh() re-aggregates ONLY the touched (code, day) groups
    // off the change feed; the view must equal a full GROUP BY of the
    // latest fold — the DuckDB mirror recomputes it from scratch.
    "qA8_incremental_view" -> ((s, d) => {
      incViewStore(s, d).read()
        .select(col("code"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("vol"), col("max_close"))
    }),
    // SUBQUERY ROW-LEVEL DML (round 17): a correlated-EXISTS DELETE and
    // an IN-subquery UPDATE each lower through the statement's own
    // resolved filter plan — one tombstone tx + one rewrite tx; the
    // latest fold must equal the anti-join/HAVING mirror.
    "qAD_vstore_subquery_dml" -> ((s, d) => {
      subqueryDmlStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // VIEW-AS-STREAM (round 18): the view's OWN change feed between its
    // two adopted generations — upsert rows (new/changed groups after
    // the tier-crossing upserts + deletes) and delete rows (groups
    // whose every member died), diffed from the one-hop-retained
    // previous generation; aggregate-sized by construction. The mirror
    // recomputes both states and diffs them.
    "qAI_view_changes" -> ((s, d) => {
      contentViewStore(s, d).changesSinceGeneration(1L)
        .select(col("_view_change_kind").as("kind"), col("code"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("tier"),
          col("n"), col("vol"), col("max_close"))
    }),
    // VIEW FEED AS A STREAM (round 19): qAI's generation diff consumed
    // through readStream.format("graft-view") — (tx, rev) generation
    // offsets, one micro-batch per refresh boundary — instead of the
    // Scala changesSinceGeneration; same rows, same mirror, so a
    // Structured-Streaming consumer needs no Scala at all.
    "qAK_view_stream" -> ((s, d) => {
      s.read.parquet(viewStreamFeed(s, d))
        .select(col("_view_change_kind").as("kind"), col("code"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("tier"),
          col("n"), col("vol"), col("max_close"))
    }),
    // SQL-ONLY CROSS-STORE TX (round 19): one CALL cross_store_write
    // commits slice %3=1 into the candle catalog table AND slice %3=2
    // into the vstore catalog table atomically; the reads here are
    // plain catalog SELECTs — the qA0 exact-or-nothing shape with every
    // step a SQL statement (fixture also proves same-name re-CALL
    // exactly-once and an empty cross_store_recover).
    "qAJ_sql_cross_store" -> ((s, d) => {
      val (catC, catV) = sqlCrossCats(s, d)
      s.sql(s"""SELECT 'candle' AS side, code, count(1) AS n_rows,
           ${Portable.roundSql("sum(close)", 2)} AS sum_close
         FROM $catC.candles GROUP BY code""")
        .unionByName(s.sql(s"""SELECT 'vstore' AS side, code,
             count(1) AS n_rows,
             ${Portable.roundSql("sum(close)", 2)} AS sum_close
           FROM $catV.v GROUP BY code"""))
        .select("side", "code", "n_rows", "sum_close")
    }),
    // SQL-ONLY INCREMENTAL VIEW (round 18): create_view (validated,
    // first refresh included), SQL upserts + a tombstone DELETE, then
    // refresh_view — the view read back as a catalog table must equal
    // the full-recompute mirror, with the watermark observable via
    // CALL view_watermark (= the delete's tx 3).
    "qAG_sql_view" -> ((s, d) => {
      val cat = sqlViewCat(s, d, sqlViewBase(s, d))
      val wm = s.sql(s"CALL $cat.system.view_watermark('v_tier')")
        .head().getLong(0)
      s.sql(s"""SELECT code, date_format(day, 'yyyy-MM-dd') AS day, tier,
           n, vol, max_close FROM $cat.v_tier""")
        .withColumn("watermark_tx", lit(wm))
    }),
    // VIEW DDL CREATE MODES (round 19): CREATE MATERIALIZED VIEW, then
    // OR REPLACE swapping the definition mid-history (the old
    // definition's generations dropped, the replacement refreshed to
    // head), then IF NOT EXISTS as a no-op — the read must equal the
    // REPLACED definition's full recompute over both batches, with the
    // watermark at tx 2 proving the replace refreshed and the no-op
    // didn't reset anything.
    "qAL_view_ddl_modes" -> ((s, d) => {
      val cat = viewDdlCat(s, d, viewDdlBase(s, d))
      val wm = s.sql(s"CALL $cat.system.view_watermark('vd')")
        .head().getLong(0)
      s.sql(s"""SELECT code, date_format(day, 'yyyy-MM-dd') AS day, n,
           vol, max_close FROM $cat.vd""")
        .withColumn("watermark_tx", lit(wm))
    }),
    // PRE-IMAGE FEED VIA THE READER (round 18): the change feed WITH
    // window-start pre-image rows served through the DataSource option
    // (changesSincePre) — not the Scala API: tx2's upserts and tx3's
    // tombstones as 'change' rows, plus each touched key's tx1 winner
    // as its 'preimage' — exactly what a non-Scala incremental consumer
    // needs to maintain content-derived state under updates + deletes.
    "qAH_preimage_feed" -> ((s, d) => {
      val sp = contentViewStorePath(s, d)
      s.read.format("graft-vstore").option("changesSincePre", 1)
        .load(sp)
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"),
          col("tx_id"), col("_deleted").cast("int").as("deleted"),
          col("_change_kind").as("kind"))
    }),
    // CONTENT-GROUPED INCREMENTAL VIEW (round 17): the view's tier
    // group derives from row CONTENT, so the refresh reads the
    // pre-image feed to learn which tier each changed key left —
    // updates that cross the threshold shrink their old tier, deletes
    // drop it, and the result must equal a full recompute.
    "qAC_content_view" -> ((s, d) => {
      contentViewStore(s, d).read()
        .select(col("code"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("tier"), col("n"), col("vol"), col("max_close"))
    }),
    // SQL MERGE INTO the PLAIN candle store (round 13): the second
    // upsert batch lands through the MERGE lowering on the candle
    // catalog as TWO half-merges (matched-update, then unmatched-insert
    // — the semi/anti split paths) — the end state must equal q40's
    // two-batch last-wins upsert oracle exactly.
    "qA2_candle_merge_sql" -> ((s, d) => {
      candleMergeStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("high"), 4).as("high"),
          Portable.round(col("low"), 4).as("low"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Cross-store atomic commit (reference: one WAL tx spanning several
    // commands, database/database.go:27-51): a two-store tx crashed
    // right after its commit marker is rolled forward onto BOTH stores
    // by recovery, and a second tx crashed before its marker is visible
    // on NEITHER — the reads here are exact-or-nothing per tx.
    "qA0_cross_store_tx" -> ((s, d) => {
      val (cs, vs) = crossStores(s, d)
      val cSide = cs.scan().groupBy(col("code"))
        .agg(count(lit(1)).as("n_rows"),
          Portable.round(sum(col("close")), 2).as("sum_close"))
        .withColumn("side", lit("candle"))
      val vSide = vs.scan().groupBy(col("code"))
        .agg(count(lit(1)).as("n_rows"),
          Portable.round(sum(col("close")), 2).as("sum_close"))
        .withColumn("side", lit("vstore"))
      cSide.unionByName(vSide).select("side", "code", "n_rows", "sum_close")
    }),
    // Time travel by WALL CLOCK: the same as-of-tx-2 state addressed
    // the way users actually ask ("as of 2024-07-02 12:00") — resolved
    // through the journal's committed_at, then the tx-gated fold.
    "q82_store_asof_time" -> ((s, d) => {
      versionedStore(s, d)
        .scanAsOfTime(java.sql.Timestamp.valueOf("2024-07-02 12:00:00"))
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Time travel through the SQL/DataFrame reader surface (round 6):
    // the SAME as-of state as q82, but consumed the way Spark users
    // consume versioned tables — spark.read.format("graft-vstore")
    // .option("asOfTime", …) → temp view → plain SQL. Closes the
    // round-5 "Scala-API-only time travel" gap; key-column predicates
    // push below the last-wins fold into the Parquet scan.
    "q88_vstore_reader_sql" -> ((s, d) => {
      val st = versionedStore(s, d)
      s.read.format("graft-vstore")
        .option("asOfTime", "2024-07-02 12:00:00").load(st.path)
        .createOrReplaceTempView("vstore_asof")
      s.sql("SELECT code, ts, open, close, volume FROM vstore_asof")
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Change feed (round 6): everything committed AFTER tx 1, unfolded,
    // with tx stamps — the CDC primitive an incremental consumer tails
    // instead of re-folding the table (Delta CDF shape, append/update
    // only by construction).
    // Exact-substring dedup as a TRANSFORM (Lee et al. 2022 §4.2): cut
    // every token covered by a corpus-duplicated 8-word window; q71
    // detects these spans, this removes them. Output text is
    // whitespace-normalized (tokenizer tokens re-joined) for engine
    // parity.
    "q8B_remove_dup_spans" -> ((s, d) => {
      Dedup.removeDuplicatedSpans(T.documents(s, d), "doc_id", "text",
        widthWords = 8)
    }),
    // Bloom-prefiltered decontamination (the blocklist-at-scale shape):
    // the benchmark's 5-gram set compiles to a bitmap probed scan-side
    // via Spark's native bloom expressions, exact-verified after — the
    // output is row-identical to q72's exact path, so it shares q72's
    // oracle.
    "q8A_bloom_decontaminate" -> ((s, d) => {
      val docs = T.documents(s, d)
      Dedup.bloomDecontaminate(docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), "doc_id", "text", shingleN = 5)
    }),
    // Near-dup cluster dedup keeping the BEST member (longest text,
    // ties to lowest id) — q69's clusters resolved to the survivor
    // corpus under the standard keep-most-complete-copy policy.
    "q8D_dedup_keep_best" -> ((s, d) => {
      Dedup.dedupNearDupKeepBest(T.documents(s, d), "doc_id", "text", "n_chars",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    // DSIR importance weights (Xie et al. 2023): score every raw doc by
    // hashed-ngram log-likelihood ratio toward a target tranche
    // (src0-src2 stand in for the curated corpus). Fully differential:
    // buckets, smoothed fits, and weights are md5-portable.
    "q8C_dsir_weights" -> ((s, d) => {
      val docs = T.documents(s, d)
      Sampling.dsirWeights(
        docs, docs.where(col("source").isin("src0", "src1", "src2")),
        "doc_id", "text", nBuckets = 1024)
    }),
    // Fasttext-style quality classifier (round 7): logistic regression
    // on hashed-ngram features, trained "target tranche vs rest" on a
    // deterministic hash-sample, scored distributed. The fixture's
    // sources/langs are statistically uniform (verified: per-source
    // word frequencies differ only by sampling noise), so the query
    // PLANTS the covariate shift it must recover: target := docs whose
    // relative frequency of the word "spark" clears a threshold — a
    // real distribution shift the classifier must learn from gram
    // buckets and generalize to the held-out half. The census is
    // blind-computable; the booleans carry the learning property (the
    // q84 pattern for non-SQL-expressible trained models).
    "q8F_quality_classifier" -> ((s, d) => {
      val docs = T.documents(s, d)
      val ws = TextStats.tokens(col("text"))
      val isTarget =
        (size(filter(ws, _ === lit("spark"))).cast("double") / size(ws)) >= 0.035
      val scored = Classifier.qualityClassifier(docs, docs.where(isTarget),
        "doc_id", "text", nBuckets = 1024, trainFrac = 0.5, salt = "qc")
      val lab = docs.select(col("doc_id"), isTarget.as("_t"),
        (Sampling.unitHash(col("doc_id"), "qc") < 5000.0).as("_tr"))
      scored.join(lab, "doc_id")
        .agg(count(lit(1)).as("n_scored"),
          expr("bool_and(quality_prob >= 0 AND quality_prob <= 1)")
            .as("probs_in_range"),
          // measured held-out mean-prob gap: 0.754 / 0.819 / 0.880 at
          // sf0.001/0.01/0.1 — floor 0.5 per the recall-gate margin
          // policy (floor ≈ measured − 0.1, here wider)
          ((avg(when(col("_t") && !col("_tr"), col("quality_prob"))) -
            avg(when(!col("_t") && !col("_tr"), col("quality_prob")))) > 0.5)
            .as("separates"))
    }),
    // Per-doc n-gram novelty (round 7): the share of each document's
    // distinct 5-grams found nowhere else — the diversity/memorization
    // signal; the planted near-dup families are exactly the low-novelty
    // tail. Only (id, hash) pairs shuffle.
    "q8E_ngram_novelty" -> ((s, d) => {
      Dedup.ngramNovelty(T.documents(s, d), "doc_id", "text", n = 5)
    }),
    // Deterministic per-epoch training order (round 7): every
    // (epoch, doc) pair gets a global md5-derived position — the
    // reproducible "shuffle the corpus each epoch" step of batch
    // assembly. The rank is a distributed prefix sum: an epoch is a
    // 100%-hot key, so a per-epoch row_number window would serialize
    // the whole corpus through one task.
    "q8G_train_order" -> ((s, d) => {
      Sampling.trainOrder(T.documents(s, d), "doc_id", epochs = 2)
    }),
    // Deterministic weighted sampling (round 7): 500 docs drawn with
    // probability increasing in n_chars via an integer-race priority —
    // the selection boundary is one exact IEEE division, never a
    // transcendental, so the kept SET matches the oracle bit-for-bit.
    // Plans as TakeOrderedAndProject: per-partition heaps, no shuffle.
    "q8H_weighted_sample" -> ((s, d) => {
      Sampling.weightedSample(T.documents(s, d), "doc_id", "n_chars", k = 500)
        .select(col("doc_id"), col("source"), col("n_chars"),
          Portable.round(col("priority"), 6).as("priority"))
    }),
    // Per-source distribution drift (round 7): JS divergence of each
    // source's hashed-unigram histogram vs the corpus mix — the
    // per-ingest-batch "did this crawl shift?" monitor. One corpus
    // tokenize pass; everything downstream is a sources×1024 frame.
    "q8I_source_drift" -> ((s, d) => {
      Corpus.sourceDrift(T.documents(s, d), "text", "source")
    }),
    // Source-pair similarity matrix (round 7): Jaccard over distinct
    // 3-gram hash sets, every pair reported (zero overlap included) —
    // the "which feeds duplicate each other?" report. Only (source,
    // hash) pairs shuffle; the join fan-out is bounded by sources².
    "q8J_source_jaccard" -> ((s, d) => {
      Corpus.sourceJaccard(T.documents(s, d), "text", "source")
    }),
    // Per-source length profile (round 7): the corpus-dashboard report
    // — count, mean, exact p10/p50/p90 per source in one aggregation
    // (percentile parity with the oracle per the q8L derivation;
    // Corpus.lengthProfile's exact path — the approx path is the
    // 100 TB-stratum option, spec- and soak-gated).
    "q8Q_length_profile" -> ((s, d) => {
      Corpus.lengthProfile(T.documents(s, d), "source", "n_chars")
        .withColumnRenamed("mean_val", "mean_chars")
    }),
    // Round-7 capstone: the new curation operators composed end-to-end
    // — exact dedup → per-lang median length gate → leakage-free split
    // → weighted sample of the train side. The gated corpus is
    // materialized once (the split's LSH branch and its assignment
    // join would otherwise re-run dedup + percentile per subtree).
    "q8O_curation_v2" -> ((s, d) => {
      val dd = Dedup.dedupedCorpus(T.documents(s, d), "doc_id", "text")
      val qg = Sampling.quantileFilter(dd, "lang", "n_chars", p = 0.5)
        .localCheckpoint()
      val split = Sampling.leakageFreeSplit(qg, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
      Sampling.weightedSample(split.where(col("split") === "train"),
          "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          Portable.round(col("priority"), 6).as("priority"))
    }),
    // Per-label centroid alignment (round 7): cosine of each label's
    // mean embedding to the corpus mean — the embedding-space drift
    // report. One posexplode pass; downstream is labels × dims.
    "q8N_centroid_drift" -> ((s, d) => {
      Corpus.labelCentroidDrift(T.embeddings(s, d), "embedding", "label")
    }),
    // Leakage-free split (round 7): near-dup clusters draw ONE split
    // assignment (keyed by their component's min id), so eval text
    // can't leak into train through a near-copy. Same LSH config as
    // q8D; unclustered docs key by their own id.
    "q8M_leakfree_split" -> ((s, d) => {
      Sampling.leakageFreeSplit(T.documents(s, d), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
        .select(col("doc_id"), col("lang"), col("split_key"), col("split"))
    }),
    // Per-stratum quantile gate (round 7): keep each language's
    // longest decile — exact per-lang P90 broadcast back as a hash
    // join; the cut compares the ROUNDED threshold so the keep/drop
    // boundary never hinges on an interpolation ulp.
    "q8L_quantile_gate" -> ((s, d) => {
      Sampling.quantileFilter(T.documents(s, d), "lang", "n_chars", p = 0.9)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("q_threshold").as("p90"))
    }),
    // Winnowing fingerprints (round 7, Schleimer et al. 2003): window
    // minima over the 5-gram hash sequence — any ≥8-token shared run
    // between docs is guaranteed to share a fingerprint, at ~40% of
    // the full gram-set density. One codegen'd pass; only (id, hash)
    // rows leave the scan.
    "q8K_winnow_fingerprints" -> ((s, d) => {
      Dedup.winnowFingerprints(T.documents(s, d), "doc_id", "text",
        k = 5, window = 4)
    }),
    "q89_vstore_changes" -> ((s, d) => {
      versionedStore(s, d).changesSince(1L)
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"),
          col("tx_id"))
    }),
    // Series catalog: the reference's page-header fields per series-year
    // (Count/Start/End + extremes) as one aggregation.
    "q4F_store_catalog" -> ((s, d) => {
      eventStore(s, d).describeSeries()
        .select(col("code"), col("n_rows"), col("first_ts"), col("last_ts"),
          Portable.round(col("min_low"), 4).as("min_low"),
          Portable.round(col("max_high"), 4).as("max_high"),
          Portable.round(col("total_volume"), 4).as("total_volume"))
    }),
    // Streaming → VERSIONED store (§2.3 × time travel): 3 micro-batches
    // == 3 journaled txs; as-of tx 2 must equal the 1s-candle
    // aggregation of the first two time slices (ts < cut2) — the
    // mid-stream state, reconstructed after the stream finished.
    "q85_stream_asof" -> ((s, d) => {
      streamedVersionedStore(s, d).scanAsOf(2L)
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Streaming ingest end-to-end (§2.3): file stream → foreachBatch
    // candle upsert → final state.
    "q61_streaming_ingest" -> ((s, d) => {
      streamedStore(s, d).scan()
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"), Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Stateful in-flight curation (round 8): bloom decontamination AT
    // INGEST against everything already ingested — documents streamed
    // in 3 mtime-pinned micro-batches (doc_id % 3), each batch flagged
    // vs the accumulated gram state of prior SURVIVORS and quarantined
    // with its shared-gram count. The oracle replays the same
    // sequential fold in SQL (exact, no bloom) — the bloom+verify path
    // must be row-identical to it at every boundary.
    "q9B_stream_decontaminate" -> ((s, d) => {
      val state = streamedDeconState(s, d)
      graft.streaming.Ingest.readSubstream(s, state, "quarantine")
        .select(col("doc_id"), col("n_contaminated"))
    }),
    // Stateful in-flight near-dup marking (round 8): first-wins
    // MinHash+LSH dedup AT INGEST against everything already seen —
    // documents streamed in 3 id-ordered micro-batches; a doc is
    // flagged iff it has a verified near-dup among earlier arrivals
    // (history or lower-id same-batch). Arrival order == id order, so
    // the oracle is the BATCH pair pipeline's drop-later set: id_b of
    // every verified (id_a < id_b) pair, aggregated.
    "q9C_stream_neardup" -> ((s, d) => {
      val state = streamedNearDupState(s, d)
      graft.streaming.Ingest.readSubstream(s, state, "flags")
        .select(col("doc_id"), col("n_pairs"), col("max_jaccard"))
    }),
    // Offline reconciliation of the streamed first-wins near-dup state
    // (round 9): the batch pipeline (in-bucket candidates over the
    // accumulated bands/ state, exact verify, CC, keep-best) replayed
    // against the stream's own verdicts — both booleans per doc. The
    // oracle mirrors q8D's recursive-CTE clustering AND q9C's
    // exists-earlier-pair stream semantics over the full corpus.
    "q9W_neardup_reconcile" -> ((s, d) => {
      val state = streamedNearDupState(s, d)
      graft.streaming.Ingest.reclusterNearDupState(s, state, threshold = 0.3)
        .join(T.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          col("id") === col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("stream_keep"), col("batch_keep"))
    }),
    // Stateful in-flight drift monitoring (round 8): each micro-batch's
    // hashed-unigram histogram JSD-compared against the ACCUMULATED
    // histogram of every earlier batch — the "is today's crawl still
    // yesterday's distribution?" alarm at ingest. Batches are the same
    // 3 mtime-pinned doc_id % 3 slices as q9B; the oracle replays the
    // sequential fold in SQL with the q8I JSD formula.
    "q9E_stream_drift" -> ((s, d) => {
      val state = streamedDriftState(s, d)
      graft.streaming.Ingest.readSubstream(s, state, "drift")
        .select(col("batch_id"), col("n_docs"), col("n_grams"),
          col("js_div"), col("alarm"))
    }),
    // Stateful HLL distinct-counting at ingest (round 8): per-source
    // mergeable DataSketches HLL sketches accumulated across 3 micro-
    // batches. The row hash-matches the oracle ONLY if the stream's
    // final running estimates land within 5% of BOTH the one-shot
    // batch sketch over the whole corpus and the exact distinct counts
    // (HLL union preserves the accuracy class, but sparse-to-dense
    // promotion during union can move an estimate slightly off the
    // one-shot build's, so parity is a band, not equality).
    "q9P_stream_hll_distinct" -> ((s, d) => {
      val state = streamedHllState(s, d)
      val streamed = graft.streaming.Ingest.pinnedRead(s, Seq(s"$state/counts/batch_2"))
        .select(col("key"), col("distinct_tokens").as("stream_est"))
      val docs = T.documents(s, d)
      val toks = docs.select(col("source").as("key"),
        explode(TextStats.tokens(col("text"))).as("_w"))
      val batchSide = toks.groupBy(col("key"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("_w"), 12)).as("batch_est"),
          countDistinct(col("_w")).as("exact_n"))
      streamed.join(batchSide, Seq("key"))
        .agg(count(lit(1)).as("n_sources"),
          (sum(when(abs(col("stream_est") - col("batch_est")).cast("double") /
            col("batch_est").cast("double") <= 0.05, 0L).otherwise(1L)) === 0L)
            .as("stream_near_batch"),
          (sum(when(abs(col("stream_est") - col("exact_n")).cast("double") /
            col("exact_n").cast("double") <= 0.05, 0L).otherwise(1L)) === 0L)
            .as("within_band"))
    }),
    // Stateful exact dedup at ingest (round 8): first-wins duplicate
    // dropping by normalized text digest across 3 micro-batches, with
    // planted copies (doc_id + 1e6 of every doc_id % 7 == 0 doc, last
    // batch) that must fall both cross-batch and within-batch. The
    // oracle replays the (batch, id)-ordered drop-later fold in SQL.
    "q9O_stream_exact_dedup" -> ((s, d) => {
      val state = streamedExactDedupState(s, d)
      graft.streaming.Ingest.readSubstream(s, state, "dups").select(col("doc_id"))
    }),
    // Token-balanced output sharding (round 8): the corpus cut into
    // ~2000-token shards along the distributed hash-order prefix sum
    // (one global 100%-hot key — no single-reducer window). The oracle
    // replays the cumulative fold and the start-shard division.
    "q9S_token_shards" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("int").as("n_tokens"))
      Sampling.shardByTokens(docs, "doc_id", "n_tokens",
          targetTokens = 2000L)
        .select(col("doc_id"), col("n_tokens"),
          col("cum_tokens").cast("bigint").as("cum_tokens"), col("shard"))
    }),
    // Curation capstone v3 (round 8): the LATE-SESSION operators
    // composed in pipeline order — exact dedup → chunk-level dup gate
    // (drop docs more than half boilerplate) → temperature rebalance
    // over lang → per-source token budget. Every stage has an exact
    // SQL mirror, so the WHOLE chain is one oracle. The gated corpus
    // is materialized once (the q8O twin-subtree lesson).
    "q9R_curation_v3" -> ((s, d) => {
      val dd = Dedup.dedupedCorpus(T.documents(s, d), "doc_id", "text")
        .localCheckpoint()
      val rate = Dedup.chunkDupRate(dd, "doc_id", "text",
        window = 4, divisor = 8L)
      val gated = dd.join(rate.where(col("dup_rate") <= 0.5)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val rebal = Sampling.temperatureSample(gated, "doc_id", "lang",
        alpha = 0.5)
      val withTokens = rebal.select(col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).cast("int").as("n_tokens"))
      Sampling.tokenBudget(withTokens, "doc_id", "source", "n_tokens",
          Map("src0" -> 300L, "src1" -> 0L), defaultBudget = 700L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens").cast("bigint").as("cum_tokens"))
    }),
    // Chunk-level duplication rate (round 8): CDC chunks + corpus
    // census — the granularity between doc-level exact dedup and
    // span-level q71. Shift-invariant boundaries mean passages shared
    // at different offsets still collide; only (id, chunk_hash) longs
    // ride the census shuffle.
    "q9Q_chunk_dup_rate" -> ((s, d) => {
      Dedup.chunkDupRate(T.documents(s, d), "doc_id", "text",
        window = 4, divisor = 8L)
    }),
    // Content-defined chunking (round 8): rolling-hash boundaries
    // (last-8-token gram hash % 64 == 0) make chunk identity a pure
    // function of local content — the shift-invariant chunk-level
    // dedup primitive. One per-doc UDF pass; boundaries AND chunk
    // hashes replayed exactly by the oracle.
    "q9N_cdc_chunks" -> ((s, d) => {
      TextStats.cdcChunks(T.documents(s, d), "doc_id", "text",
        window = 8, divisor = 64L)
    }),
    // Stateful streaming ANN indexing (round 8): the IVF index built
    // incrementally across 3 micro-batches — centroids frozen after
    // the first batch, later vectors assigned scan-side. The row
    // hash-matches the oracle ONLY if (a) the stream-built cell state
    // is IDENTICAL to the batch assignment under the stored centroids
    // and (b) probe recall vs brute force clears the q63 floor
    // ([[recallGateRow]], shared by all five streamed-vector property
    // queries).
    "q9M_stream_ivf_index" -> ((s, d) => {
      import s.implicits._
      val state = streamedIvfIndexState(s, d)
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val cents = graft.streaming.Ingest.readSubstream(s, state, "centroids")
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val streamed = graft.streaming.Ingest.ivfCellState(s, state)
        .select(col("cell_id"), col("id")).localCheckpoint()
      val batchAssigned = emb.select(
        Similarity.ivfAssignUdf(cents)(col("embedding")).as("cell_id"),
        col("vec_id").cast("long").as("id"))
      // identity diff runs on a background thread, overlapping the
      // recall gate's two materializations (extras is by-name)
      val diff = Par.detach(multisetDiffCount(streamed, batchAssigned))
      // q63's floor: measured mean recall@10 0.54-0.62 with full-corpus
      // training; first-batch training lands in the same band (the
      // quantizer sees a 1/3 uniform sample)
      recallGateRow(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        graft.streaming.Ingest.ivfIndexTopK(s, state, queries,
          "vec_id", "embedding", k = 10, nProbe = 4),
        Seq(lit(diff() == 0L).as("index_identical")))
    }),
    // Stateful streaming IVFADC (PQ) indexing (round 10): the q9M
    // stream with state stored as m-BYTE product-quantized residual
    // codes instead of raw vectors — the 100 TB state shape (bytes/
    // vector m + 8, probes prune cell_id=N/ partitions, exact rerank
    // re-reads candidate vectors from the source table). The row
    // hash-matches the oracle ONLY if (a) the stream-built code state
    // is BYTE-IDENTICAL to the batch encoding under the stored frozen
    // quantizers, (b) state rows carry only (cell_id, id, m-byte
    // code), and (c) probe recall vs brute force clears the q9M floor.
    "q9Z_pq_stream_index" -> ((s, d) => {
      import s.implicits._
      val state = streamedIvfPqIndexState(s, d)
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val cents = graft.streaming.Ingest.readSubstream(s, state, "centroids")
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val bookRows = graft.streaming.Ingest.readSubstream(s, state, "books")
        .select(col("s"), col("c"), col("vals"))
        .as[(Int, Int, Array[Double])].collect()
      val m = bookRows.map(_._1).max + 1
      val ks = bookRows.map(_._2).max + 1
      val books = Array.ofDim[Array[Double]](m, ks)
      bookRows.foreach { case (sb, c, v) => books(sb)(c) = v }
      val streamed = graft.streaming.Ingest.ivfPqCodeState(s, state)
        .select(col("cell_id"), col("id"), col("code")).localCheckpoint()
      val batchCodes = Similarity.encodeIvfPq(emb, "vec_id", "embedding",
        cents, books, m, ks)
      // identity diff + code-length census run on background threads,
      // overlapping the recall gate's materializations (extras by-name)
      val diff = Par.detach(multisetDiffCount(streamed, batchCodes))
      val codeLensF = Par.detach(streamed
        .agg(max(length(col("code"))), min(length(col("code")))).head())
      def slim = {
        val codeLens = codeLensF()
        streamed.columns.toSet == Set("cell_id", "id", "code") &&
          codeLens.getInt(0) == m && codeLens.getInt(1) == m
      }
      // q9M's floor: exact rerank makes recall ≈ routing recall, the
      // same 4/16-probe band first-batch training lands in
      recallGateRow(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        graft.streaming.Ingest.ivfPqIndexTopK(s, state, queries,
          emb, "vec_id", "embedding", k = 10, nProbe = 4),
        Seq(lit(diff() == 0L).as("codes_identical"),
          lit(slim).as("state_slim")))
    }),
    // Streamed PQ index RE-SHARD generation (round 15): the q9Z stream
    // re-sharded mid-stream at nCells ≈ √N — the scale path for the
    // first-batch-frozen cell count (measured LINEAR at the 100×
    // decade: per-probe ADC scans grow as N/nCells). The row
    // hash-matches the oracle ONLY if (a) the re-shard generation is
    // ADOPTED (all three compact_upto_2 publications complete, frozen
    // batch_* training dirs GC'd), (b) its cell count is the √N
    // derivation over the re-sharded membership, (c) the WHOLE state —
    // re-encoded batches [0,2) plus the incrementally-encoded batch
    // 2 — is byte-identical to the batch encoding under the adopted
    // quantizers (one generation, no mixing), and (d) probe recall at
    // the derived √-family width clears the q9M floor.
    "qA4_pq_reshard_index" -> ((s, d) => {
      import s.implicits._
      val state = reshardedIvfPqIndexState(s, d)
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(state), s.sparkContext.hadoopConfiguration)
      val (centDirs, bookDirs) =
        graft.streaming.Ingest.ivfPqQuantizerDirs(fs, state, Long.MaxValue)
      def names(dirs: Seq[String]) =
        dirs.map(p => new org.apache.hadoop.fs.Path(p).getName)
      val adopted =
        names(centDirs) == Seq("compact_upto_2") &&
        names(bookDirs) == Seq("compact_upto_2") &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$state/centroids/batch_0"))
      val cents = graft.streaming.Ingest.pinnedRead(s, centDirs)
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val bookRows = graft.streaming.Ingest.pinnedRead(s, bookDirs)
        .select(col("s"), col("c"), col("vals"))
        .as[(Int, Int, Array[Double])].collect()
      val m = bookRows.map(_._1).max + 1
      val ks = bookRows.map(_._2).max + 1
      val books = Array.ofDim[Array[Double]](m, ks)
      bookRows.foreach { case (sb, c, v) => books(sb)(c) = v }
      val nReshardedF = Par.detach(emb.where(col("vec_id") % 3 < 2).count())
      val streamed = graft.streaming.Ingest.ivfPqCodeState(s, state)
        .select(col("cell_id"), col("id"), col("code")).localCheckpoint()
      val batchCodes = Similarity.encodeIvfPq(emb, "vec_id", "embedding",
        cents, books, m, ks)
      // identity diff + √N census on background threads, overlapping
      // the recall gate's materializations (extras is by-name)
      val diff = Par.detach(multisetDiffCount(streamed, batchCodes))
      // nProbe = 0: the serving-side √-family derivation (2·√nCells)
      recallGateRow(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        graft.streaming.Ingest.ivfPqIndexTopK(s, state, queries,
          emb, "vec_id", "embedding", k = 10, nProbe = 0),
        Seq(lit(adopted).as("resharded"),
          lit(cents.length == Similarity.sqrtIvfParams(nReshardedF())._1)
            .as("ncells_sqrt"),
          lit(diff() == 0L).as("codes_identical")))
    }),
    // Streamed RAW-vector IVF index RE-SHARD generation (round 16): the
    // q9M stream re-sharded mid-stream at nCells ≈ √N — the qA4 remedy
    // applied to the raw family, whose first-batch-frozen nCells=16 was
    // the last > 0.6 100×-decade exponent. The row hash-matches the
    // oracle ONLY if (a) the re-shard generation is ADOPTED (centroids
    // + re-assigned cells compact_upto_2 complete, frozen batch_*
    // training dir GC'd), (b) its cell count is the √N derivation over
    // the re-sharded membership, (c) the WHOLE state — re-assigned
    // batches [0,2) plus the incrementally-assigned batch 2 — matches
    // the batch assignment under the adopted quantizer (one generation,
    // no mixing), and (d) probe recall at the derived √-family width
    // clears the q9M floor.
    "qA6_ivf_reshard_index" -> ((s, d) => {
      import s.implicits._
      val state = reshardedIvfIndexState(s, d)
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(state), s.sparkContext.hadoopConfiguration)
      val centDirs =
        graft.streaming.Ingest.ivfCentroidDirs(fs, state, Long.MaxValue)
      val adopted =
        centDirs.map(p => new org.apache.hadoop.fs.Path(p).getName) ==
          Seq("compact_upto_2") &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$state/centroids/batch_0"))
      val cents = graft.streaming.Ingest.pinnedRead(s, centDirs)
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val nReshardedF = Par.detach(emb.where(col("vec_id") % 3 < 2).count())
      val streamed = graft.streaming.Ingest.ivfCellState(s, state)
        .select(col("cell_id"), col("id")).localCheckpoint()
      val batchAssigned = emb.select(
        Similarity.ivfAssignUdf(cents)(col("embedding")).as("cell_id"),
        col("vec_id").cast("long").as("id"))
      // identity diff + √N census on background threads, overlapping
      // the recall gate's materializations (extras is by-name)
      val diff = Par.detach(multisetDiffCount(streamed, batchAssigned))
      // nProbe = 0: the serving-side √-family derivation (2·√nCells)
      recallGateRow(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
        graft.streaming.Ingest.ivfIndexTopK(s, state, queries,
          "vec_id", "embedding", k = 10, nProbe = 0),
        Seq(lit(adopted).as("resharded"),
          lit(cents.length == Similarity.sqrtIvfParams(nReshardedF())._1)
            .as("ncells_sqrt"),
          lit(diff() == 0L).as("state_identical")))
    }),
    // Stateful embedding-dedup at ingest (round 9): SemDeDup's
    // same-cell cosine rule as a first-wins stream over the real
    // embeddings + planted exact twins. Property oracle: the row
    // hash-matches only if EXACTLY ONE member of every planted
    // identical pair is flagged (whichever arrived first — the gate is
    // arrival-order-insensitive), every flag carries cos ~ 1 (no
    // organic flags at τ = 0.999 on this near-isotropic corpus), and
    // the cell state holds the full census.
    "q9Y_embed_dedup" -> ((s, d) => {
      import s.implicits._
      val state = streamedEmbedDedupState(s, d)
      // four independent driver actions — overlap them (guide §2.6)
      val censusF = Par.detach(
        graft.streaming.Ingest.ivfCellState(s, state).count())
      val nEmbF = Par.detach(T.embeddings(s, d).count())
      val plantedF = Par.detach(
        T.embeddings(s, d).where(col("vec_id") % 10 === 0)
          .select(col("vec_id")).as[Long].collect())
      val flags = graft.streaming.Ingest.readSubstream(s, state, "flags")
        .select(col("id"), col("max_cos")).as[(Long, Double)].collect().toMap
      val planted = plantedF()
      val off = q9yTwinOffset(s, d)
      val onePerPair = planted.forall(v =>
        flags.contains(v) ^ flags.contains(v + off))
      val allExact = flags.valuesIterator.forall(_ >= 0.9999)
      val census = censusF()
      val nEmb = nEmbF()
      s.range(1).select(
        lit(planted.length.toLong).as("n_planted"),
        lit(flags.size.toLong).as("n_flagged"),
        lit(onePerPair).as("one_flag_per_pair"),
        lit(allExact && flags.size == planted.length).as("flags_are_the_twins"),
        lit(census == nEmb + planted.length).as("census_ok"))
    }),
    // Drift-TRIGGERED IVF refresh (round 9): a mid-stream encoder swap
    // (negated embeddings) sinks the quantization-quality signal; the
    // trigger fires, the refresh re-trains on accumulated state, the
    // stream goes quiet once the state contains the drift, and probe
    // recall on drifted queries clears the q63-band floor. Property
    // oracle (the q9M pattern): the row hash-matches only if all
    // three gates hold.
    "q9X_drift_refresh" -> ((s, d) => {
      import s.implicits._
      val state = streamedIvfDriftState(s, d)
      val emb = T.embeddings(s, d)
      val famA = driftFamily(emb, period = 4, idOffset = 0L)
      val famB = driftFamily(emb, period = 2, idOffset = 100000L)
      val union = famA.unionByName(famB)
      // query-set cap (the q9M/q9Z pattern): famB ids are original + the
      // 100000 offset, so this is the first 10000 originals — WITHOUT it
      // the property oracle's brute force is Θ(queries·N) with the query
      // count itself growing in N: measured Θ(N²) at the 100× decade
      // (warm exp 1.24), all oracle, none of it the operator
      val queries = famB.where(col("vec_id") % 20 === 0 &&
        col("vec_id") < 110000L)
      val qs = graft.streaming.Ingest.ivfQstats(s, state)
        .select(col("batch_id"), col("refreshed"))
        .as[(Long, Boolean)].collect().sortBy(_._1)
      val fired = qs.exists(_._2)
      val healedQuiet = qs.nonEmpty && qs.last._1 == 4L && !qs.last._2
      recallGateRow(
        Similarity.bruteForceTopK(union, queries, "vec_id", "embedding",
          k = 10),
        graft.streaming.Ingest.ivfIndexTopK(s, state, queries,
          "vec_id", "embedding", k = 10, nProbe = 8),
        Seq(lit(fired).as("trigger_fired"),
          lit(healedQuiet).as("healed_quiet")))
    }),
    // Temperature mixture rebalancing (round 8): the multilingual p^α
    // rule at α = 0.5 over the (skewed) lang strata — keep rates
    // (p_min/p_k)^(1-α)
    // broadcast back, draws by unit hash. Rates round-4 before the
    // keep test so selection never hinges on a pow ulp.
    "q9L_temperature_sample" -> ((s, d) => {
      Sampling.temperatureSample(T.documents(s, d), "doc_id", "lang",
          alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("keep_rate"))
    }),
    // Greedy k-center diversity sample (round 8): farthest-first
    // traversal over the embeddings — k rounds of one-broadcast-center
    // map + struct-max all-reduce, no sort, no candidate collect. The
    // whole greedy trajectory is deterministic, so the oracle replays
    // it as a recursive CTE.
    "q9K_kcenter_sample" -> ((s, d) => {
      Similarity.kCenterSample(T.embeddings(s, d), "vec_id", "embedding",
        k = 12)
    }),
    // Sketch-based source-pair Jaccard (round 8): the 100 TB shape of
    // q8J — each source reduced to a bottom-256 KMV sketch inside the
    // bounded partial aggregation (no distinct-gram shuffle), pairs
    // estimated from sketches alone. Deterministic, so the oracle
    // replays the estimator bit-for-bit.
    "q9J_sketch_jaccard" -> ((s, d) => {
      Corpus.sourceJaccardSketch(T.documents(s, d), "text", "source",
        shingleN = 3, k = 256)
    }),
    // Catalog-resolved SQL time travel (round 8): the versioned store
    // addressed as a first-class SQL name through the VStoreCatalog
    // plugin — `FROM <catalog>.v VERSION AS OF 2` resolves via the
    // catalog's loadTable(ident, version) hook into the SAME computed
    // fold as q7E's scanAsOf(2), pushdown surface included.
    "q9I_vstore_catalog_sql" -> ((s, d) => {
      versionedStore(s, d) // build the fixture store
      val base = vstoreCache(d).stripSuffix("/v")
      val cat = "gvc" + (d.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.VStoreCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"SELECT * FROM $cat.v VERSION AS OF 2")
        .select(col("code"), col("ts"),
          Portable.round(col("open"), 4).as("open"),
          Portable.round(col("close"), 4).as("close"),
          Portable.round(col("volume"), 4).as("volume"))
    }),
    // Stateful per-source token-budget enforcement at ingest (round 8):
    // q81's budget table applied as a RUNNING quota across 3 mtime-
    // pinned doc_id % 3 micro-batches — a source closes the moment its
    // all-seen token total passes its budget, and stays closed in every
    // later batch. The oracle replays the same sequential fold in SQL
    // (cum over (batch, hash, id) per source).
    "q9H_stream_quota" -> ((s, d) => {
      val state = streamedQuotaState(s, d)
      graft.streaming.Ingest.readSubstream(s, state, "docs")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens").cast("bigint").as("cum_tokens"))
    }),
    // Zipf fit per source (corpus-health diagnostic): least-squares
    // slope of ln(freq) on ln(rank) over each source's top-200 words —
    // natural text reads ≈ -1; template/boilerplate sources flatten.
    // Ranking ties break on the word so both engines rank identically.
    "q9G_zipf_fit" -> ((s, d) => {
      val ranked = T.documents(s, d)
        .select(col("source"), explode(TextStats.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("cnt").desc, col("w").asc)))
        .where(col("r") <= 200)
        .select(col("source"), log(col("r").cast("double")).as("lr"),
          log(col("cnt").cast("double")).as("lf"))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_ranks"),
          Portable.round(covar_pop(col("lr"), col("lf")) / var_pop(col("lr")), 4)
            .as("slope"))
    }),
    // Cross-corpus near-dup join (the "is today's crawl already in the
    // corpus?" batch operator): incoming docs (odd ids) paired with
    // their verified near-dups among history docs (even ids). History
    // contributes one slim band table and never shuffles; the oracle is
    // the union banding's pair set restricted to opposite-parity pairs.
    "q9F_cross_corpus_neardup" -> ((s, d) => {
      val docs = T.documents(s, d)
      Dedup.crossCorpusNearDupPairs(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.3)
    }),
    // Greedy sequence packing (pretraining batch construction): docs
    // bucketed by id % 8, each bucket packed in id order into
    // 120-token bins. The assignment is deterministic and
    // partition-independent by construction, so the oracle replays the
    // same sequential fold as a recursive CTE.
    "q9D_pack_bins" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("int").as("n_tokens"))
      Sampling.packGreedy(docs, "doc_id", "n_tokens",
        maxTokens = 120, nBuckets = 8)
    }))

  private val deconCache = fixtureCache[String]()

  /** Streamed decontaminating-ingest fixture: documents sliced into 3
    * micro-batches by `doc_id % 3` (mtime-pinned file order), cleaned
    * in-flight by [[graft.streaming.Ingest.startDecontaminatingIngest]].
    * Returns the state dir (docs/quarantine/grams per batch).
    */
  private def streamedDeconState(s: SparkSession, d: String): String =
    deconCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qdecon").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val srcDir = stageSliceFiles(s, base,
        docs.withColumn("_slice", (col("doc_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startDecontaminatingIngest(
        stream, stateDir, s"$base/ckpt")
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed decontamination must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val driftCache = fixtureCache[String]()

  /** Streamed drift-monitor fixture: documents sliced into 3
    * micro-batches by `doc_id % 3` (mtime-pinned file order), each
    * batch JSD-scored in-flight against the accumulated history by
    * [[graft.streaming.Ingest.startDriftMonitorIngest]]. Returns the
    * state dir (drift/hist per batch).
    */
  private def streamedDriftState(s: SparkSession, d: String): String =
    driftCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qdrift").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val srcDir = stageSliceFiles(s, base,
        docs.withColumn("_slice", (col("doc_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startDriftMonitorIngest(
        stream, stateDir, s"$base/ckpt")
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed drift monitor must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val quotaCache = fixtureCache[String]()

  /** Streamed quota-ingest fixture: documents sliced into 3
    * micro-batches by `doc_id % 3` (mtime-pinned file order), each
    * batch admitted against the running per-source token totals by
    * [[graft.streaming.Ingest.startQuotaIngest]] under q81's budget
    * table. Returns the state dir (docs/dropped/totals per batch).
    */
  private def streamedQuotaState(s: SparkSession, d: String): String =
    quotaCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qquota").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val srcDir = stageSliceFiles(s, base,
        docs.withColumn("_slice", (col("doc_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .withColumn("n_tokens", TextStats.tokenCount(col("text")).cast("int"))
        .drop("text")
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startQuotaIngest(
        stream, stateDir, s"$base/ckpt",
        budgets = Map("src0" -> 300L, "src1" -> 0L), defaultBudget = 700L)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed quota ingest must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val hllCache = fixtureCache[String]()

  /** Streamed HLL-distinct fixture: documents sliced into 3 mtime-pinned
    * micro-batches by `doc_id % 3`, each batch folded into per-source
    * mergeable HLL sketches by
    * [[graft.streaming.Ingest.startHllDistinctIngest]]. Returns the
    * state dir (sketches/counts per batch).
    */
  private def streamedHllState(s: SparkSession, d: String): String =
    hllCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qhll").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val srcDir = stageSliceFiles(s, base,
        docs.withColumn("_slice", (col("doc_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startHllDistinctIngest(
        stream, stateDir, s"$base/ckpt")
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed HLL distinct must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val exactDedupCache = fixtureCache[String]()

  /** Streamed exact-dedup fixture: documents sliced into 3 mtime-pinned
    * micro-batches by `doc_id % 3`, PLUS a planted copy (doc_id +
    * 1,000,000, identical text) of every `doc_id % 7 == 0` document
    * routed into the LAST batch — so the dedup must drop copies both
    * across batches (original in slice 0/1) and within the final batch
    * (original in slice 2, lower id wins). Returns the state dir.
    */
  private def streamedExactDedupState(s: SparkSession, d: String): String =
    exactDedupCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qexdedup").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val withCopies = docs.withColumn("_slice", (col("doc_id") % 3).cast("int"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .withColumn("_slice", lit(2)))
      val srcDir = stageSliceFiles(s, base, withCopies, nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startExactDedupIngest(
        stream, stateDir, s"$base/ckpt")
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed exact dedup must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val ivfIdxCache = fixtureCache[String]()

  /** Streamed IVF-index fixture: embeddings sliced into 3 micro-batches
    * by `vec_id % 3` (mtime-pinned file order); centroids train on the
    * first batch, later batches are assigned incrementally by
    * [[graft.streaming.Ingest.startIvfIndexIngest]]. Returns the state
    * dir (centroids/cells per batch).
    */
  private def streamedIvfIndexState(s: SparkSession, d: String): String =
    ivfIdxCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qivfidx").toString
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val srcDir = stageSliceFiles(s, base,
        emb.withColumn("_slice", (col("vec_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startIvfIndexIngest(
        stream, stateDir, s"$base/ckpt")
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed IVF indexing must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val ivfPqIdxCache = fixtureCache[String]()

  /** Streamed IVFADC (PQ) index fixture: the [[streamedIvfIndexState]]
    * slicing (embeddings in 3 mtime-pinned micro-batches) driven
    * through [[graft.streaming.Ingest.startIvfPqIndexIngest]] — both
    * quantizers train on the first batch and freeze; state stores
    * m-byte codes, not vectors. Returns the state dir.
    */
  private def streamedIvfPqIndexState(s: SparkSession, d: String): String =
    ivfPqIdxCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qivfpqidx").toString
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val srcDir = stageSliceFiles(s, base,
        emb.withColumn("_slice", (col("vec_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startIvfPqIndexIngest(
        stream, stateDir, s"$base/ckpt", m = 8, ks = 64)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed PQ indexing must see 3 micro-batches, saw $batches")
      stateDir
    })

  private val pqReshardCache = fixtureCache[String]()

  /** Streamed PQ index with a MID-STREAM √N RE-SHARD: the
    * [[streamedIvfPqIndexState]] slicing with `reshardEvery = 2`, so
    * before batch 2 the ingest re-trains the coarse quantizer at
    * `nCells ≈ √N` over the accumulated membership, re-encodes it from
    * the source table, and publishes the three-part generation batch 2
    * then encodes under ([[graft.streaming.Ingest.reshardIvfPqIndex]])
    * — the scale remedy for the first-batch-frozen cell count whose
    * per-probe scans measured LINEAR at the 100× decade. Returns the
    * state dir.
    */
  private def reshardedIvfPqIndexState(s: SparkSession, d: String): String =
    pqReshardCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qpqreshard").toString
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val srcDir = stageSliceFiles(s, base,
        emb.withColumn("_slice", (col("vec_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startIvfPqIndexIngest(
        stream, stateDir, s"$base/ckpt", m = 8, ks = 64,
        reshardEvery = 2, reshardWith = emb)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"re-sharded PQ indexing must see 3 micro-batches, saw $batches")
      stateDir
    })

  /** The two streamed-PQ fixture state dirs (frozen q9Z, re-sharded
    * qA4), built if absent — the serve-path ScaleProbe's entry point:
    * it times `ivfPqIndexTopK` over these directly, with a FIXED query
    * set, so the operator's scaling is measured apart from the property
    * oracles' own Θ(queries·N) brute-force and Θ(N·√N) differential.
    */
  private[graft] def pqProbeFixtures(s: SparkSession, d: String): (String, String) =
    (streamedIvfPqIndexState(s, d), reshardedIvfPqIndexState(s, d))

  private val ivfReshardCache = fixtureCache[String]()

  /** Streamed RAW-vector IVF index with a MID-STREAM √N RE-SHARD: the
    * [[streamedIvfIndexState]] slicing with `reshardEvery = 2`, so
    * before batch 2 the ingest re-trains the coarse quantizer at
    * `nCells ≈ √N` over the accumulated membership and re-assigns it
    * ([[graft.streaming.Ingest.reshardIvfIndex]] — no source table
    * needed: the raw state holds the vectors) — the qA4 scale remedy
    * applied to the q9M family, whose first-batch-frozen nCells=16 was
    * the last > 0.6 exponent at the 100× decade. Returns the state dir.
    */
  private def reshardedIvfIndexState(s: SparkSession, d: String): String =
    ivfReshardCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qivfreshard").toString
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val srcDir = stageSliceFiles(s, base,
        emb.withColumn("_slice", (col("vec_id") % 3).cast("int")),
        nSlices = 3)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startIvfIndexIngest(
        stream, stateDir, s"$base/ckpt", reshardEvery = 2)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"re-sharded IVF indexing must see 3 micro-batches, saw $batches")
      stateDir
    })

  /** The two streamed RAW-IVF fixture state dirs (frozen q9M,
    * re-sharded qA6) — [[pqProbeFixtures]]'s sibling for the raw-vector
    * family's serve-path ScaleProbe section.
    */
  private[graft] def ivfProbeFixtures(s: SparkSession, d: String): (String, String) =
    (streamedIvfIndexState(s, d), reshardedIvfIndexState(s, d))

  private val ivfDriftCache = fixtureCache[String]()

  /** One of two TIGHT, mutually-orthogonal vector families keyed by
    * the corpus's vec_ids (the q7A/q7B synthetic-payload pattern —
    * testdata supplies the ids, the payload is deterministic):
    * family A rides the period-4 sign pattern (+ + − −…), family B
    * the period-2 one (+ − + −…); the patterns are exactly orthogonal
    * over an even dim count, and per-(id, dim) jitter keeps each
    * family a tight cosine cluster (within-family cos ≳ 0.87,
    * cross-family ≲ 0.15). The REAL embeddings are near-isotropic in
    * cosine (best-cos to 16 trained centroids ≈ 0.21 for originals
    * AND any drift — measured), so a quality-RATIO trigger cannot see
    * drift on them; structured families are what give the trigger a
    * healthy baseline to fall from.
    */
  private def driftFamily(emb: DataFrame, period: Int, idOffset: Long): DataFrame = {
    val dim = 64 // the testdata embedding width
    val mk = udf { (id: Long) =>
      (0 until dim).map { j =>
        val base = if ((j / (period / 2)) % 2 == 0) 1f else -1f
        base + 0.12f * (((id * 7 + j * 13) % 11) - 5)
      }
    }
    emb.select((col("vec_id") + lit(idOffset)).as("vec_id"),
      mk(col("vec_id")).as("embedding"))
  }

  /** Drift-refresh fixture: 2 batches of family A, then 3 batches of
    * the orthogonal family B ("the encoder changed"). Batches are
    * driven through the ingest's per-batch body directly (the
    * StreamingSpec pattern) in a PINNED order — a file stream's batch
    * composition under AvailableNow is scheduler-dependent, and this
    * fixture's gates are order-sensitive by design (the trigger
    * compares each batch against strictly-earlier history).
    */
  private def streamedIvfDriftState(s: SparkSession, d: String): String =
    ivfDriftCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qivfdrift").toString
      val stateDir = s"$base/state"
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val famA = driftFamily(emb, period = 4, idOffset = 0L)
      val famB = driftFamily(emb, period = 2, idOffset = 100000L)
      val batches = Seq(
        famA.where(pmod(col("vec_id"), lit(2)) === 0),
        famA.where(pmod(col("vec_id"), lit(2)) === 1),
        famB.where(pmod(col("vec_id"), lit(3)) === 0),
        famB.where(pmod(col("vec_id"), lit(3)) === 1),
        famB.where(pmod(col("vec_id"), lit(3)) === 2))
      batches.zipWithIndex.foreach { case (b0, i) =>
        // ONE materialization per batch feeds both the trigger's
        // quality scans and the assignment/state dump (guide §5),
        // floored to cluster parallelism (guide §2.5)
        val b = graft.llm.Dedup.scanParallel(b0, col("vec_id"))
          .localCheckpoint()
        graft.streaming.Ingest.driftTriggeredRefresh(b, i.toLong, stateDir,
          "embedding", nCells = 16, iters = 5, factor = 0.9)
        graft.streaming.Ingest.ivfIndexBatch(b, i.toLong, stateDir,
          "vec_id", "embedding", nCells = 16, iters = 5,
          materialized = true)
      }
      stateDir
    })

  private val embDedupCache = fixtureCache[String]()

  /** Streamed embedding-dedup fixture: the real embeddings in 3
    * ntile slices plus a 4th file of EXACT TWINS (vec_id + 100000,
    * identical vector) of every 10th embedding, marked in-flight by
    * [[graft.streaming.Ingest.startEmbedDedupIngest]] at τ = 0.999.
    * The gates are ARRIVAL-ORDER-INSENSITIVE by design (exactly one
    * member of each planted identical pair is flagged whichever
    * arrives first — AvailableNow batch composition is scheduler-
    * dependent, measured on the q9X fixture), so a real stream drives
    * this one. Returns the state dir.
    */
  /** Twin-id offset for the q9Y planted pairs, derived identically by
    * the fixture and the query: the historical +100000 at every
    * oracle-checked SF (hash-stable), one past the real id space when
    * a synthetic corpus (ScaleProbe's 10×/100× decades) grows into it —
    * collision-free at any scale instead of a loud refusal.
    */
  private val twinOffsetCache = fixtureCache[Long]()
  private def q9yTwinOffset(s: SparkSession, d: String): Long =
    twinOffsetCache.getOrElseUpdate(ek(d), { // constant per dataset: one max() job, not one per evaluation
      val maxId = T.embeddings(s, d).agg(max(col("vec_id"))).head().getLong(0)
      if (maxId < 100000L) 100000L else maxId + 1
    })

  private def streamedEmbedDedupState(s: SparkSession, d: String): String =
    embDedupCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qembdedup").toString
      val emb = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val off = q9yTwinOffset(s, d)
      val twins = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
      val srcDir = stageSliceFiles(s, base,
        emb.withColumn("_slice", (ntile(3).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1).cast("int"))
        .unionByName(twins.withColumn("_slice", lit(3))),
        nSlices = 4)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startEmbedDedupIngest(
        stream, stateDir, s"$base/ckpt", threshold = 0.999)
      q.awaitTermination()
      stateDir
    })

  private val nearDupCache = fixtureCache[String]()

  /** Streamed near-dup-ingest fixture: documents sliced into 3
    * micro-batches in doc_id ORDER (ntile over doc_id; mtime-pinned
    * file order), marked in-flight by
    * [[graft.streaming.Ingest.startNearDupIngest]] at q52's LSH
    * operating point. Id-ordered arrival is what makes the batch
    * drop-later oracle exact. Returns the state dir.
    */
  private def streamedNearDupState(s: SparkSession, d: String): String =
    nearDupCache.getOrElseUpdate(ek(d), {
      val base = fixtureTmpDir("graft-qneardup").toString
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val srcDir = stageSliceFiles(s, base,
        docs.withColumn("_slice", ntile(3).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))) - 1),
        nSlices = 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val stateDir = s"$base/state"
      val q = graft.streaming.Ingest.startNearDupIngest(
        stream, stateDir, s"$base/ckpt", threshold = 0.3)
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3,
        s"streamed near-dup must see 3 micro-batches, saw $batches")
      stateDir
    })

  // ---------------------------------------------------------------- //
  // LLM data-pipeline surface (§2.4)                                 //
  // ---------------------------------------------------------------- //

  private def llmOps: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup by normalized text.
    "q50_exact_dedup" -> ((s, d) => {
      Dedup.exactDedup(T.documents(s, d), "doc_id", "text")
    }),
    // Exact n-gram Jaccard near-dup pairs (bounded ground truth).
    "q51_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(T.documents(s, d).where(col("doc_id") < 300),
        "doc_id", "text", shingleN = 3, threshold = 0.1)
    }),
    // MinHash + LSH near-dup pairs over the full documents table.
    "q52_minhash_pairs" -> ((s, d) => {
      Dedup.minhashNearDupPairs(T.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
    }),
    // SimHash near-dup candidates within Hamming distance 6.
    "q53_simhash_pairs" -> ((s, d) => {
      Dedup.simhashNearDupPairs(T.documents(s, d).where(col("doc_id") < 1000),
        "doc_id", "text", maxHamming = 6)
    }),
    // Near-dup CLUSTER resolution: connected components over the
    // MinHash+LSH pair graph (pairs alone under-dedup: {A~B, B~C} must
    // collapse to ONE cluster). Distributed min-label propagation with
    // pointer jumping; O(log d) rounds, two (node,label) shuffles each.
    "q69_dup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashNearDupPairs(T.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),
    // Corpus-trained unigram LM score: mean log10 token probability
    // under the corpus's own unigram distribution (cheap perplexity
    // proxy; rare-token-heavy docs score low). Two passes: vocab count
    // shuffle + token->count join (AQE handles the Zipf skew).
    "q6C_unigram_lm" -> ((s, d) => {
      TextStats.unigramLmScore(T.documents(s, d), "doc_id", "text")
    }),
    // Symmetric int8 embedding quantization with measured
    // reconstruction error — deterministic in-order folds, no shuffle.
    "q6D_quantize_embed" -> ((s, d) => {
      Similarity.quantizeInt8(T.embeddings(s, d), "vec_id", "embedding")
    }),
    // Distributed BPE tokenizer: train 16 merges on the corpus's own
    // word-frequency table (vocab-scale loop; the only corpus-scale
    // passes are the word count and the final tokenize), then gate on
    // invariants the oracle can assert blind: every document's pieces
    // re-concatenate to its words exactly, and the corpus strictly
    // compresses vs raw code points (merges trained on this corpus must
    // apply to it). q63's property-oracle pattern.
    "q6H_bpe_tokenizer" -> ((s, d) => {
      val merges = graft.llm.Bpe.trainMerges(T.documents(s, d), "text", nMerges = 16)
      graft.llm.Bpe.tokenizeStats(T.documents(s, d), "doc_id", "text", merges)
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("roundtrip_ok"), 0L).otherwise(1L)) === 0L).as("all_roundtrip"),
          (sum(col("n_bpe_tokens")) < sum(col("n_symbols"))).as("compressed_ok"))
    }),
    // PII redaction census: e-mail/IPv4 counts + md5 of the redacted
    // bytes (byte-exact redaction, proven cross-engine). Codegen'd
    // regexp chain, scan speed.
    "q6G_pii_redact" -> ((s, d) => {
      TextStats.piiStats(T.documents(s, d), "doc_id", "text")
    }),
    // Okapi BM25 scoring against a probe term set (Lucene idf form) —
    // the retrieval/topic-probe scoring pass of corpus curation. Term
    // filter runs scan-side; corpus stats broadcast.
    "q70_bm25_rank" -> ((s, d) => {
      Ranking.bm25(T.documents(s, d), "doc_id", "text",
        Seq("join", "vector", "slow"))
    }),
    // Per-document top-5 TF-IDF keywords (smoothed idf; deterministic
    // term-ascending tie-break — scores are single products of exact
    // integers, bit-identical across engines).
    "q7F_top_terms" -> ((s, d) => {
      Ranking.topTerms(T.documents(s, d), "doc_id", "text", k = 5)
    }),
    // Training-mixture construction: per-source sampling weights with
    // epoch repetition (2.5 epochs of src0, 40% of src1, drop src2) —
    // deterministic, shuffle-free explode projection.
    "q80_domain_mix" -> ((s, d) => {
      Sampling.mixture(T.documents(s, d).select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0))
        .select(col("doc_id"), col("source"), col("epoch").cast("int").as("epoch"))
    }),
    // Per-source token-budget enforcement: keep docs in hash order
    // while the running token total fits the domain budget.
    "q81_token_budget" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).cast("int").as("n_tokens"))
      Sampling.tokenBudget(docs, "doc_id", "source", "n_tokens",
          Map("src0" -> 300L, "src1" -> 0L), defaultBudget = 700L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens").cast("bigint").as("cum_tokens"))
    }),
    // Corpus-wide duplicated word spans (exact-substring dedup signal,
    // shift-invariant): only (id, 60-bit hash) pairs shuffle.
    "q71_dup_spans" -> ((s, d) => {
      Dedup.duplicatedSpans(T.documents(s, d), "doc_id", "text",
        widthWords = 8)
    }),
    // Benchmark decontamination: corpus docs sharing any word 5-gram
    // with the held-out benchmark slice (doc_id % 50 == 0).
    "q72_decontaminate" -> ((s, d) => {
      val docs = T.documents(s, d)
      Dedup.decontaminate(docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), "doc_id", "text", shingleN = 5)
    }),
    // Deterministic per-source cap: at most 20 docs per source, chosen
    // by hash order (engine-portable; oracle mirrors the md5 rank).
    "q73_source_cap" -> ((s, d) => {
      Sampling.capPerKey(T.documents(s, d), "doc_id", "source", maxPerKey = 20)
        .select(col("doc_id"), col("source"))
    }),
    // Flesch reading-ease: regex-count sentences/words/syllable groups,
    // codegen'd, scan speed; formula arithmetic mirrored in the oracle.
    "q7D_readability" -> ((s, d) => {
      TextStats.readabilityStats(T.documents(s, d), "doc_id", "text")
    }),
    // Count-Min sketch frequency estimates (the third classic sketch
    // next to HLL q29 and approx-percentile q4G): deterministic seeded
    // hashes make the whole 4×1024 table + estimates oracle-checkable
    // bit-for-bit, plus the analytic one-sided bound est >= exact.
    "q7C_count_min" -> ((s, d) => {
      graft.llm.Sketches.countMinEstimates(T.documents(s, d), "text",
        Seq("the", "data", "join", "vector", "graftabsentword"))
    }),
    // Corpus-trained interpolated bigram LM score (sharper perplexity
    // proxy than q6C's unigram; λ=0.75 conditional + 0.25 unigram).
    "q77_bigram_lm" -> ((s, d) => {
      TextStats.bigramLmScore(T.documents(s, d), "doc_id", "text")
    }),
    // REAL image perceptual-hash near-dup: textured PNGs planted so
    // byte-distinct re-encodes (one-pixel perturbation) of a pattern
    // share an aHash; pair census must equal the closed-form pattern
    // census AND no two patterns may collide.
    "q7B_image_phash" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val media = T.documents(s, d).select(col("doc_id"),
        Multimodal.syntheticTexturedPngUdf(col("doc_id")).as("payload"))
      Multimodal.imagePerceptualHash(media, "doc_id", "payload")
        .join(media.select(col("doc_id"), md5(col("payload")).as("pmd5")), Seq("doc_id"))
        .withColumn("r", pmod(col("doc_id"), lit(30)))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("c"), countDistinct(col("r")).as("npat"),
          countDistinct(col("pmd5")).as("npay"))
        .agg(sum(col("c") * (col("c") - 1) / lit(2)).cast("long").as("n_pairs"),
          (max(when(col("c") >= 2, col("npat")).otherwise(lit(1L))) === 1L)
            .as("all_same_pattern"),
          // the near-dup property is only non-vacuous if hash groups
          // contain BYTE-DISTINCT payloads (perturbed + unperturbed)
          coalesce(min(when(col("c") >= 2, col("npay"))) >= 2, lit(false))
            .as("has_byte_distinct"))
    }),
    // SemDeDup recall gate (q6B's planted-pair pattern): k-means
    // clustering + intra-cluster exact cosine must recover ≥ 80% of the
    // planted near-copies (misses only cluster-straddling pairs;
    // measured recall is 1.0 at all SFs, floor leaves k-means margin).
    "q78_semdedup_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d).where(col("vec_id") < 2000)
        .select("vec_id", "embedding")
      val planted = emb.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + when(i % 2 === 0, lit(0.001f)).otherwise(lit(-0.001f))).as("embedding"))
      val corpus = emb.unionByName(planted).localCheckpoint()
      val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val exact = a.join(b, col("id_a") < col("id_b"))
        .where(Similarity.cosineNative(col("va"), col("vb")) >= 0.99)
        .select("id_a", "id_b").localCheckpoint()
      val sem = Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
        minCosine = 0.99, nClusters = 16, iters = 4)
      val hits = exact.join(sem, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"),
          (col("n_hit").cast("double") / col("n_exact").cast("double") >= 0.8)
            .as("recall_ok"))
    }),
    // PQ-ADC + exact-rerank recall gate (q63's pattern): product-
    // quantized codes must put enough of the true top-10 into the
    // rerank candidate set. m=8/ks=256 codebooks sized to the corpus
    // and a DERIVED rerank width (grows with the corpus — see
    // Similarity.pqTopK) hold recall across scale factors instead of
    // decaying past a fixed literal.
    "q79_pq_topk_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val approx = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 10,
          m = 8, ks = 256, iters = 4)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          // Floor 0.9 with margin (q63's policy): measured recall@10 is
          // 0.987-0.988 at sf0.001/0.01/0.1 (tools/RecallCheck
          // pq_m8ks256_auto), and codebook training sums are
          // float-order-dependent run to run.
          (sum(col("n_hit")).cast("double") /
            (count(lit(1)) * 10).cast("double") >= 0.9).as("recall_ok"))
    }),
    // IVFADC recall gate (q79's pattern, composed): the IVF coarse
    // quantizer in front of PQ-ADC — ADC scans only probed cells
    // (~nProbe/nCells of the corpus), the 100 TB ANN serving shape.
    // Residual coding (Jégou §IV.A) + m=8/ks=256 books + derived rerank
    // make the ADC+rerank stage near-lossless, so recall ≈ the ROUTING
    // recall of nProbe=10/16 cells on the near-random fixture (the
    // kmeans_p* ceiling in tools/RecallCheck — on clustered production
    // data the same probe fraction routes far better).
    "q83_ivfpq_topk_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val approx = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
          k = 10, nCells = 16, nProbe = 10, m = 8, ks = 256, iters = 4,
          sampleMod = 4)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          // Floor 0.7 with margin (q63's policy): measured recall@10 is
          // 0.848-0.900 across sf0.001/0.01/0.1 (tools/RecallCheck /
          // P10 grid), and k-means centroid sums are order-dependent
          // run to run.
          (sum(col("n_hit")).cast("double") /
            (count(lit(1)) * 10).cast("double") >= 0.7).as("recall_ok"))
    }),
    // REAL audio frequency analysis, oracle-checked end-to-end: WAV
    // encode → decode → DFT; the dominant bin must equal the square
    // wave's fundamental N/(2·halfPeriod), closed-form in doc_id.
    "q7A_wav_spectral" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val media = T.documents(s, d).select(col("doc_id"),
        Multimodal.syntheticWavUdf(col("doc_id")).as("payload"))
      Multimodal.wavDominantFrequency(media, "doc_id", "payload")
    }),
    // Dedup as a corpus materialization: keep the lowest-id doc per
    // normalized text, all columns carried.
    "q44_dedup_corpus" -> ((s, d) => {
      Dedup.dedupedCorpus(T.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    // The canonical pre-training cleaning pass: token band + quality
    // floor + language allowlist, composed over the deduped corpus.
    "q45_quality_filter" -> ((s, d) => {
      TextStats.qualityFilter(
          Dedup.dedupedCorpus(T.documents(s, d), "doc_id", "text"),
          "text", minTokens = 20, maxTokens = 10000, minQuality = 0.6,
          langs = Seq("en"))
        .select(col("doc_id"), col("source"))
    }),
    // Corpus-level analytics: per (lang, source) doc counts, token sums,
    // mean quality — the dataset-card summary over documents. One
    // compiled stats pass per doc feeding a partial-agg shuffle.
    "q46_corpus_stats" -> ((s, d) => {
      val st = TextStats.docStatsUdf(TextStats.tokens(col("text")), length(col("text")))
      T.documents(s, d)
        .select(col("lang"), col("source"), st.as("_st"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_st.n_tokens").cast("long")).as("total_tokens"),
          Portable.round(avg(col("_st.quality")), 4).as("mean_quality"))
    }),
    // Per-document token/char counts and ratios (compiled stats pass).
    "q54_text_counts" -> ((s, d) => {
      val st = TextStats.docStatsUdf(TextStats.tokens(col("text")), length(col("text")))
      T.documents(s, d)
        .select(col("doc_id"), st.as("_st"))
        .select(
          col("doc_id"),
          col("_st.n_tokens").as("n_tokens"),
          col("_st.n_subwords").as("n_subwords"),
          col("_st.n_chars").as("n_chars"),
          Portable.round(col("_st.stopword_ratio"), 4).as("stopword_ratio"),
          Portable.round(col("_st.mean_word_len"), 4).as("mean_word_len"))
    }),
    // Language ID, quality score, rolling-hash fingerprint (compiled).
    "q55_text_lang_fp" -> ((s, d) => {
      val st = TextStats.docStatsUdf(TextStats.tokens(col("text")), length(col("text")))
      T.documents(s, d)
        .select(col("doc_id"), st.as("_st"))
        .select(
          col("doc_id"),
          col("_st.lang_pred").as("lang_pred"),
          col("_st.quality").as("quality"),
          col("_st.fingerprint").as("fingerprint"))
    }),
    // Exact top-k cosine (brute force, broadcast queries).
    "q56_topk_cosine" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
    }),
    // Hard-negative mining (round 7): the top-5 most-similar
    // DIFFERENT-label vectors per query — contrastive training's
    // "closest wrong answers". Bounded query set, exact ground truth.
    "q8P_hard_negatives" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      Similarity.hardNegatives(emb,
        emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000),
        "vec_id", "embedding", "label", k = 5)
    }),
    // IVF-scale hard negatives (round 8): q8P's semantics through the
    // k-means IVF index with the per-label probe widening — the path
    // for queries ≈ corpus. Recall-property gate (q63's pattern:
    // k-means centroids are float-sum order-dependent, so the oracle
    // pins the query count and literal true; mean recall@5 vs the
    // exact path must clear a floor the operator beats with margin).
    "q9A_hard_neg_ivf_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      val exact = Similarity.hardNegatives(emb, queries,
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val approx = Similarity.hardNegativesIvf(emb, queries,
          "vec_id", "embedding", "label", k = 5, nCells = 16, nProbe = 4,
          iters = 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          // Floor 0.4 with margin: measured mean recall@5 is 0.61-0.71
          // across sf0.001/0.01/0.1 (tools/RecallCheck hard_neg_ivf_p4;
          // near-uniform fixture vectors — the q63 regime; the
          // clustered spec fixture gates >= 0.9).
          (sum(col("n_hit")).cast("double") /
            (count(lit(1)) * 5).cast("double") >= 0.4).as("recall_ok"))
    }),
    // Per-vector stats.
    "q57_embedding_stats" -> ((s, d) => {
      val v = col("embedding")
      T.embeddings(s, d).select(
        col("vec_id"),
        size(v).as("dim"),
        Portable.round(Similarity.l2norm(v), 6).as("l2_norm"),
        Portable.round(Similarity.dot(v, v) / size(v), 6).as("mean_sq"))
    }),
    // IVF-bucketed ANN top-k (the similarity scale path).
    "q59_ivf_topk" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 10,
        nCells = 16, nProbe = 2)
    }),
    // k-means-trained IVF, proven by a recall property against exact
    // brute force (k-means centroids are float-sum order-dependent, so
    // the oracle checks the property, not the centroids: mean recall@10
    // across all queries must clear a floor the trained index beats
    // with wide margin).
    "q63_ivf_kmeans_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 10000)
      // Both top-k frames are tiny (k rows per query) and feed multiple
      // downstream branches — materialize once, or Spark re-evaluates
      // the whole brute-force / IVF subtree per reference.
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      val approx = Similarity.ivfTopKKMeans(emb, queries, "vec_id", "embedding",
          k = 10, nCells = 16, nProbe = 4, iters = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          // Floor 0.4 with margin: measured mean recall@10 is 0.54-0.62
          // across sf0.001/0.01/0.1 (tools/RecallCheck), and k-means
          // centroid sums are order-dependent run to run.
          (sum(col("n_hit")).cast("double") /
            (count(lit(1)) * 10).cast("double") >= 0.4).as("recall_ok"))
    }),
    // LSH near-dup-pairs recall gate (q63's pattern for the pairs path):
    // plant a perturbed near-copy of every 25th vector, compute exact
    // threshold pairs by bounded brute force and approximate pairs via
    // lshNearDupPairs; the result row hash-matches the oracle ONLY if
    // the planted-pair count is exactly right AND recall ≥ 0.95.
    "q6B_lsh_pairs_recall" -> ((s, d) => {
      val emb = T.embeddings(s, d).where(col("vec_id") < 2000)
        .select("vec_id", "embedding")
      val planted = emb.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + when(i % 2 === 0, lit(0.001f)).otherwise(lit(-0.001f))).as("embedding"))
      val corpus = emb.unionByName(planted).localCheckpoint()
      val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val exact = a.join(b, col("id_a") < col("id_b"))
        .where(Similarity.cosineNative(col("va"), col("vb")) >= 0.99)
        .select("id_a", "id_b").localCheckpoint()
      val lsh = Similarity.lshNearDupPairs(corpus, "vec_id", "embedding", 0.99)
      val hits = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"),
          (col("n_hit").cast("double") / col("n_exact").cast("double") >= 0.95)
            .as("recall_ok"))
    }),
    // Embedding-cosine near-duplicate pairs (bounded all-pairs).
    "q58_cosine_neardup" -> ((s, d) => {
      val e = T.embeddings(s, d).where(col("vec_id") < 400)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("score", Portable.round(Similarity.cosineNative(col("va"), col("vb")), 4))
        .where(col("score") >= 0.25)
        .select("id_a", "id_b", "score")
    }),
    // Multimodal plumbing, oracle-checked end-to-end: the stub decode
    // kernel is deterministic byte arithmetic (rolling checksum +
    // stride-mean features), which the DuckDB oracle mirrors from
    // hex-decoded UTF-8 bytes — schema, partitioning, batch shape AND
    // values are all gated. (The REAL codec paths are proven separately
    // by q65/q6A/q7A/q7B.)
    "q60_multimodal_features" -> ((s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.attachPayload(T.documents(s, d), "doc_id", "text")
        .select(col("id"), col("payload"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeFeaturesStub(media, dim = 8)
        .select(col("id"), col("n_bytes"), col("checksum"),
          Portable.round(element_at(col("features"), 1), 4).as("f0"))
    }),
    // Char-trigram Naive-Bayes language ID (q79-style property gate):
    // plant one held-out sentence per doc — language keyed by doc_id%4,
    // sentence variant by (doc_id/4)%2, none of them in the model's
    // seed corpora — and require EVERY prediction correct. The model's
    // float log-sums aren't SQL-mirrorable; the planted accuracy is
    // computable blind.
    "q84_langid_ngram" -> ((s, d) => {
      val holdout = Seq(
        Seq("she opened the window and looked at the rain falling on the quiet street below",
          "they walked along the beach in the evening and talked about their plans for the future"),
        Seq("sie öffnete das fenster und schaute auf den regen der auf die stille straße fiel",
          "sie gingen am abend den strand entlang und sprachen über ihre pläne für die zukunft"),
        Seq("elle ouvrit la fenêtre et regarda la pluie tomber sur la rue tranquille en bas",
          "ils marchaient le long de la plage le soir et parlaient de leurs projets pour l avenir"),
        Seq("ella abrió la ventana y miró la lluvia caer sobre la calle tranquila de abajo",
          "caminaban por la playa por la tarde y hablaban de sus planes para el futuro"))
      val langsArr = array(Seq("en", "de", "fr", "es").map(lit(_)): _*)
      val textsArr = array(holdout.map(v => array(v.map(lit(_)): _*)): _*)
      val li = pmod(col("doc_id"), lit(4)).cast("int")
      val vi = pmod(floor(col("doc_id") / 4).cast("long"), lit(2)).cast("int")
      T.documents(s, d)
        .select(col("doc_id"),
          element_at(langsArr, li + 1).as("expected"),
          element_at(element_at(textsArr, li + 1), vi + 1).as("planted"))
        .withColumn("pred", TextStats.langIdNgramUdf(col("planted")))
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("pred") =!= col("expected"), 1).otherwise(0)) === 0)
            .as("all_correct"))
    }),
    // The CAPSTONE composition: the full curation pipeline — exact
    // dedup → MinHash near-dup clusters → quality gate → benchmark
    // decontamination → per-source token budget — as ONE call, mirrored
    // end-to-end by a single DuckDB chain. Proves the stages compose
    // deterministically, not just pass in isolation.
    "q87_curation_pipeline" -> ((s, d) => {
      val all = T.documents(s, d)
      Curation.standardPipeline(
          all.where(col("doc_id") % 50 =!= 0),
          all.where(col("doc_id") % 50 === 0),
          budgets = Map("src0" -> 5000L, "src1" -> 3000L),
          defaultBudget = 8000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens").cast("bigint").as("cum_tokens"))
    }),
    // Unicode NFC normalization, oracle-checked byte-for-byte: plant a
    // DECOMPOSED suffix (e + combining acute U+0301) on even doc_ids —
    // normalization must compose it (bytes shrink, string changes) and
    // leave the plain suffix untouched; JDK Normalizer vs DuckDB
    // utf8proc implement the same Unicode standard.
    "q86_nfc_normalize" -> ((s, d) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" e\u0301cole")) // decomposed: e + combining acute
          .otherwise(lit(" plain")))
      T.documents(s, d)
        .select(col("doc_id"), planted.as("_p"))
        .withColumn("_n", TextStats.nfcNormalizeUdf(col("_p")))
        .select(col("doc_id"),
          octet_length(col("_p")).as("n_bytes_raw"),
          octet_length(col("_n")).as("n_bytes_nfc"),
          (col("_p") =!= col("_n")).as("changed"))
    }),
    // Gopher-style repetition/formatting stats + keep rule: duplicate
    // lines, bullet/ellipsis lines, symbol ratio, top-2-gram fraction —
    // one compiled pass per doc; keep thresholds the ROUNDED fields.
    "q68_repetition_stats" -> ((s, d) => {
      val st = TextStats.repStatsUdf(col("text"), TextStats.tokens(col("text")))
      T.documents(s, d)
        .withColumn("_r", st)
        .select(col("doc_id"),
          col("_r.n_lines").as("n_lines"),
          col("_r.dup_line_fraction").as("dup_line_fraction"),
          col("_r.bullet_line_fraction").as("bullet_line_fraction"),
          col("_r.ellipsis_line_fraction").as("ellipsis_line_fraction"),
          col("_r.symbol_word_ratio").as("symbol_word_ratio"),
          col("_r.top_2gram_fraction").as("top_2gram_fraction"),
          (col("_r.dup_line_fraction") <= 0.3 &&
            col("_r.bullet_line_fraction") <= 0.9 &&
            col("_r.ellipsis_line_fraction") <= 0.3 &&
            col("_r.symbol_word_ratio") <= 0.1 &&
            col("_r.top_2gram_fraction") <= 0.2).as("keep"))
    }),
    // Token-window chunking (pretraining preprocessing): ≤120-token
    // chunks with 20-token overlap, one codegen'd pass, no shuffle.
    "q66_doc_chunks" -> ((s, d) => {
      TextStats.chunkDocuments(T.documents(s, d), "doc_id", "text",
        chunkSize = 120, overlap = 20)
    }),
    // Deterministic hash-derived train/val/test split: membership is a
    // pure function of (doc_id, salt) — reproducible across runs,
    // partitionings, and engines (oracle mirrors the md5 arithmetic).
    "q67_hash_split" -> ((s, d) => {
      Sampling.hashSplit(T.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // REAL audio decode, oracle-checked end-to-end: synthesize a square
    // wave per doc (half-period and amplitude closed-form in doc_id),
    // run it through the JDK's actual WAV encoder AND RIFF/PCM decoder
    // on executors — RMS/peak/crossings must equal the closed form
    // exactly (square wave: every sample is ±a; a/32768 is exact in
    // double; crossings = samples/halfPeriod − 1).
    "q6A_wav_decode" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val media = T.documents(s, d).select(col("doc_id"),
        Multimodal.syntheticWavUdf(col("doc_id")).as("payload"))
      Multimodal.decodeWavFeatures(media, "doc_id", "payload")
    }),
    // REAL image decode, oracle-checked end-to-end: synthesize a solid-
    // color PNG per doc (size + RGB closed-form in doc_id), run it
    // through the JDK's actual PNG encoder AND decoder on executors,
    // extract (size, channel means) — which must equal the closed-form
    // oracle exactly (PNG is lossless; solid color → integer means).
    "q65_image_decode" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val media = T.documents(s, d).select(col("doc_id"),
        Multimodal.syntheticPngUdf(col("doc_id")).as("payload"))
      Multimodal.decodeImageFeatures(media, "doc_id", "payload")
    }))

  /** Full corpus. */
  def all: Map[String, (SparkSession, String) => DataFrame] =
    relational ++ timeseries ++ store ++ llmOps
}
