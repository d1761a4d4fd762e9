package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}

/** Core relational operators: scans, filters, joins, aggregations, window
  * functions, sorts and set operations (SURVEY.md §2.2).
  *
  * Scale design (targets a 1000-executor cluster; tested on local[n]):
  *  - dimension joins (customer/nation/region/supplier) are explicitly
  *    `broadcast()` — the fact side is never shuffled for them;
  *  - fact⋈fact joins project join keys + payload *before* the join so the
  *    exchange carries the minimal row;
  *  - aggregations are declarative `groupBy().agg()` so Catalyst always
  *    plans partial (map-side) aggregation before the shuffle;
  *  - every aggregate over doubles uses [[graft.Det]] exact-decimal sums,
  *    which are merge-order-insensitive — safe under AQE re-planning,
  *    speculative execution and skew-join splitting;
  *  - the as-of join is the union+window formulation (one shuffle by key,
  *    linear) instead of the O(n·m) range-join formulation.
  */
object Relational {
  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans ---------------------------------------------------------
    "q_scan_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // lineitem has no unique key (dup (orderkey, linenumber) pairs) —
        // total order requires sorting by every output column.
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
          asc_nulls_last("l_quantity"), asc_nulls_last("l_extendedprice"))),

    // Projection + predicate both reach the parquet scan (PushedFilters /
    // ReadSchema in `.explain` — at 100 TB this is the difference between
    // reading 2 columns of a few row groups vs the whole table).
    "q_scan_pruned" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
          asc_nulls_last("l_shipdate"))),

    // ---- joins ---------------------------------------------------------
    "q_join_broadcast" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = broadcast(t(s, d, "customer").select("c_custkey", "c_name"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"), c("c_custkey"), c("c_name"), o("o_totalprice"))
        .orderBy(asc_nulls_last("o_orderkey"))
    }),

    // Fact⋈fact: shuffle join on the key, minimal projected payload. At
    // scale, bucketing both tables by orderkey turns this into a
    // shuffle-free sort-merge join.
    "q_join_shuffle" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      val o = t(s, d, "orders").select("o_orderkey", "o_totalprice")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(li("l_orderkey"), li("l_linenumber"),
          li("l_extendedprice"), o("o_totalprice"))
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
          asc_nulls_last("l_extendedprice"), asc_nulls_last("o_totalprice"))
    }),

    "q_join_outer" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(c("c_custkey"), o("o_orderkey"),
          coalesce(o("o_totalprice"), lit(0.0)).as("totalprice_filled"))
        .orderBy(asc_nulls_last("c_custkey"), asc_nulls_last("o_orderkey"))
    }),

    "q_join_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(asc_nulls_last("c_custkey"))
    }),

    "q_join_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(asc_nulls_last("c_custkey"))
    }),

    // NULL-SAFE equi-join (`<=>` ↔ IS NOT DISTINCT FROM): NULL keys
    // match each other instead of vanishing — the join you need when
    // the key is an optional attribute and "both unknown" means "same
    // group". Catalyst plans EqualNullSafe as a plain hash-join key
    // (null hashes like any value), so the 100 TB story is identical to
    // q_join_shuffle — no filter-and-union contortion. Keys are
    // derived (nullif over the nation id) because the fixtures carry no
    // physical NULLs; both engines derive them with the same text.
    "q_join_nullsafe" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"),
          expr("nullif(c_nationkey % 5, 2)").as("k"))
      val su = t(s, d, "supplier")
        .select(col("s_suppkey"),
          expr("nullif(s_nationkey % 5, 2)").as("ks"))
      c.join(su, col("k") <=> col("ks"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("s_suppkey")).as("n_supp"))
        .orderBy(asc_nulls_last("k"))
    }),

    // Equi + range predicate: Catalyst plans the equi part as the join key
    // and evaluates the range as a post-join filter — no cartesian product.
    "q_join_range" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
      val o = t(s, d, "orders").select("o_orderkey", "o_orderdate")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(o("o_orderkey"), li("l_linenumber"),
          datediff(li("l_shipdate"), o("o_orderdate")).cast("long")
            .as("ship_lag_days"))
        .orderBy(asc_nulls_last("o_orderkey"), asc_nulls_last("l_linenumber"),
          asc_nulls_last("ship_lag_days"))
    }),

    // UNKEYED point-in-interval join via grid bucketing — the range-join
    // shape q_join_range CANNOT cover (no equi key at all: every order's
    // fulfillment window [o_orderdate, +1..30d] against every distinct
    // ship date). The naive plan is a nested loop over |points|×|intervals|;
    // here intervals explode to the month cells they overlap (≤ 2 for a
    // ≤ 30-day window) and points join their single cell — ONE
    // hash-joinable equi-join on cell whose fan-out is bounded by
    // per-cell density, then the exact containment filter. The grid is
    // the standard spatial-join decomposition: at 100 TB the cell width
    // tunes fan-out vs parallelism exactly like 2^planes does for LSH.
    //
    // AGGREGATE-BEFORE-JOIN (round 7): interval endpoints are day-grain,
    // so the 226k interval rows at sf0.1 collapse to ~66k distinct
    // (s0,e0) groups carrying a count weight; the cell join fans out over
    // GROUPS (2.2M joined rows, measured) instead of raw intervals
    // (6.9M), and the per-point count is the weight sum. Measured 2.6 s →
    // 0.9-1.1 s solo at sf0.1. At 100 TB the dedup ratio grows with
    // |intervals| / (days × window-widths) — the shuffle carries the
    // bounded day-grain group table, never the raw fact.
    "q_join_interval" -> ((s, d) => {
      val pts = t(s, d, "lineitem")
        .select(col("l_shipdate").as("p")).distinct()
        .withColumn("cell", date_trunc("month", col("p")))
      val iv = t(s, d, "orders")
        .select(col("o_orderdate").as("s0"),
          expr("timestampadd(DAY, CAST(o_orderkey % 30 + 1 AS INT), " +
            "o_orderdate)").as("e0"))
        .filter(col("s0").isNotNull)
        .groupBy("s0", "e0").agg(count(lit(1)).as("w"))
        .withColumn("cell", explode(expr(
          "sequence(date_trunc('month', s0), date_trunc('month', e0), " +
            "interval 1 month)")))
      pts.join(iv, "cell")
        .filter(col("s0") <= col("p") && col("p") <= col("e0"))
        .groupBy("p")
        .agg(sum("w").as("n_open"))
        .select(col("p").as("ship_date"), col("n_open"))
        .orderBy(asc_nulls_last("ship_date"))
    }),

    // As-of join: each purchase joined to the most recent signup at-or-
    // before it, per user. Union+window formulation: ONE shuffle by
    // user_id, linear scan — the scalable shape (vs correlated subquery /
    // range join). Signups sort before purchases at equal ts so the
    // at-or-before (<=) semantics hold exactly.
    "q_join_asof" -> ((s, d) => {
      val e = t(s, d, "events").select("event_id", "user_id", "event_type", "ts")
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("is_purchase"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.filter(col("event_type").isin("signup", "purchase"))
        .withColumn("is_purchase",
          when(col("event_type") === "purchase", 1).otherwise(0))
        .withColumn("asof_signup_ts",
          last(when(col("event_type") === "signup", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "asof_signup_ts")
        .orderBy(asc_nulls_last("event_id"))
    }),

    // Forward as-of join WITH TOLERANCE: each click linked to the same
    // user's NEXT purchase at-or-after it, kept only if it lands within
    // 1 day — pandas merge_asof(direction='forward', tolerance), the
    // attribution/conversion-linking shape. Same union+window linear
    // form as q_join_asof, scanned in REVERSE time order so "last
    // purchase seen" is the nearest future one (purchases sort before
    // clicks at equal ts, so at-or-after includes the same instant);
    // the tolerance is one comparison after the window — never a range
    // join. One user_id shuffle.
    "q_join_asof_fwd" -> ((s, d) => {
      val e = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "ts")
      val w = Window.partitionBy("user_id")
        .orderBy(desc_nulls_last("ts"), asc_nulls_last("is_click"),
          desc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_click",
          when(col("event_type") === "click", 1).otherwise(0))
        .withColumn("nxt",
          last(when(col("event_type") === "purchase", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("nxt") <= col("ts") + expr("INTERVAL 1 DAY"),
            col("nxt")).as("next_purchase_ts"))
        .orderBy(asc_nulls_last("event_id"))
    }),

    // Nearest as-of join — completes the as-of family
    // (backward / forward / NEAREST, pandas merge_asof
    // direction='nearest'): each click linked to the same user's
    // closest purchase in EITHER direction, equidistant ties breaking
    // backward (the pandas rule). Both candidate sides come from the
    // SAME union+window linear form as q_join_asof/q_join_asof_fwd —
    // one user_id shuffle, two sorted window passes over the same
    // partitioning, never a range join — and the direction pick is a
    // per-row interval comparison (µs-exact on both engines).
    "q_join_asof_nearest" -> ((s, d) => {
      val e = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_click",
          when(col("event_type") === "click", 1).otherwise(0))
      val wb = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("is_click"),
          asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id")
        .orderBy(desc_nulls_last("ts"), asc_nulls_last("is_click"),
          desc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pTs = when(col("event_type") === "purchase", col("ts"))
      e.withColumn("prev_ts", last(pTs, ignoreNulls = true).over(wb))
        .withColumn("next_ts", last(pTs, ignoreNulls = true).over(wf))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("prev_ts"), col("next_ts"),
          when(col("next_ts").isNull, col("prev_ts"))
            .when(col("prev_ts").isNull, col("next_ts"))
            .when(col("ts") - col("prev_ts")
              <= col("next_ts") - col("ts"), col("prev_ts"))
            .otherwise(col("next_ts")).as("nearest_purchase_ts"),
          when(col("prev_ts").isNull && col("next_ts").isNull,
            lit(null).cast("string"))
            .when(col("next_ts").isNull, lit("backward"))
            .when(col("prev_ts").isNull, lit("forward"))
            .when(col("ts") - col("prev_ts")
              <= col("next_ts") - col("ts"), lit("backward"))
            .otherwise(lit("forward")).as("direction"))
        .orderBy(asc_nulls_last("event_id"))
    }),

    // ---- aggregations --------------------------------------------------
    "q_agg_hash" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base_price"),
          // r14: Det.dsum IS sum(cast(x as DECIMAL(18,6))).cast(double)
          // — same per-row rounding and exact total, on the sum128
          // two-long accumulator instead of a BigDecimal buffer
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
            6).as("sum_disc_price"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.davg(col("l_extendedprice")).as("avg_price"),
          Det.davg(col("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus"))),

    "q_agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_suppkey")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_items"))
        .orderBy(asc_nulls_last("l_suppkey"))),

    // HLL sketch — mergeable across partitions, constant memory per group;
    // estimates are engine-specific, so this is a declared no-oracle query.
    "q_agg_approx_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_last("event_type"))),

    "q_agg_rollup" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_cust"),
          Det.dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(asc_nulls_last("gid"),
          asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    "q_agg_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_items"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_last("gid"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // GROUPING SETS with an ASYMMETRIC set list — ((rf,ls),(rf),(ls)) is
    // neither a rollup (no (ls) level) nor a cube (no () level), so it
    // exercises the one grouping construct q_agg_rollup/q_agg_cube
    // cannot: the planner expands it to a single Expand + one hash
    // aggregate (NOT three scans — one pass at 100 TB), and grouping_id
    // disambiguates rows like the cube twin. Determinism: grouping_id
    // bit order is the SQL-standard left-to-right MSB convention on
    // both engines (proven by q_agg_cube's hash match).
    "q_agg_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_items"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_last("gid"),
          asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Rolling 7-event regression slope (per-user "is this metric
    // accelerating?" — the moving-window OLS a monitoring layer wants
    // next to q_window_rolling_median's level): over the last 7 events
    // of the user, beta = (kΣty − ΣtΣy)/(kΣt² − (Σt)²) with t =
    // whole seconds since 2024-01-01 (bounded integers: products stay
    // far inside BIGINT where raw epoch-micros would overflow) and y
    // the exact 10⁴-scaled value. Every frame sum is exact integer
    // arithmetic — the single IEEE division happens per row AFTER the
    // exact numerator/denominator (null when the frame's timestamps
    // coincide). Scale: ONE user-partitioned window, frames bounded at
    // 7 rows by construction; a 1000× corpus grows user count (more
    // partitions), never frame size.
    "q_window_rolling_beta" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
        .rowsBetween(-6, 0)
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("(unix_micros(ts) - 1704067200000000) div 1000000")
            .as("tt"),
          expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)")
            .as("yy"))
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("st", sum("tt").over(w))
        .withColumn("sy", sum("yy").over(w))
        // BIGINT survivor of the r12 overflow sweep, bounded by the
        // 7-row frame: den = k·stt − st² ≤ 49·T² for T = span seconds
        // since the 2024 epoch, which stays under 2⁶³ until T ≈ 4.3e8 s
        // ≈ 13.7 YEARS of data — and tt·yy ≤ T·|v|·10⁴ needs |v| ≤ 2e5
        // at that span. PropertyLawsSpec pins both bounds numerically;
        // past them the epoch base (not the width) is what to move.
        .withColumn("stt", sum(expr("tt * tt")).over(w))
        .withColumn("sty", sum(expr("tt * yy")).over(w))
        .withColumn("den", expr("k * stt - st * st"))
        .withColumn("beta", when(col("den") === 0L, lit(null))
          .otherwise(expr(
            "CAST(k * sty - st * sy AS DOUBLE) / CAST(den AS DOUBLE)")))
        .select("user_id", "event_id", "k", "den", "beta")
        .orderBy(asc_nulls_last("event_id"))
    }),

    // ---- window functions ----------------------------------------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
      t(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .orderBy(asc_nulls_last("o_custkey"), asc_nulls_last("rn"))
    }),

    "q_window_analytic" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
      t(s, d, "events")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("next_value", lead("value", 1).over(w))
        .orderBy(asc_nulls_last("event_id"))
    }),

    // The rest of the analytic-function catalog: percent_rank,
    // nth_value, defaulted lag, offset-2 lead — over a UNIQUE
    // (value, event_id) ordering so every function is deterministic
    // (percent_rank ties collapse anyway; nth_value's RANGE
    // unbounded→current default frame agrees on both engines under a
    // unique ordering). Partitioned window, one event_type shuffle.
    "q_window_analytic2" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(asc_nulls_last("value"), asc_nulls_last("event_id"))
      t(s, d, "events")
        .select("event_id", "event_type", "value")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("third_lowest", nth_value(col("value"), 3).over(w))
        .withColumn("prev_or_neg1", lag(col("value"), 1, -1.0).over(w))
        .withColumn("lead2", lead(col("value"), 2).over(w))
        .orderBy(asc_nulls_last("event_id"))
    }),

    // Frames over exact decimals: running sums are re-computed by both
    // engines with different algorithms (Spark: sequential; DuckDB:
    // segment tree), so only order-insensitive exact arithmetic hashes
    // identically.
    "q_window_frame" -> ((s, d) => {
      val ob = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
      val wRun = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wMov = ob.rowsBetween(-6, 0)
      t(s, d, "events")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("running_sum",
          Det.exactSum(col("value")).over(wRun).cast("double"))
        .withColumn("moving_avg",
          Det.exactSum(col("value")).over(wMov).cast("double")
            / count(lit(1)).over(wMov))
        .orderBy(asc_nulls_last("event_id"))
    }),

    // Plan audit: Spark 4 plans this as partial WindowGroupLimit (per-
    // partition bounded top-k heaps) below the exchange + final above —
    // the scalable grouped-top-k shape, no custom operator needed.
    "q_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
      t(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy(asc_nulls_last("o_custkey"), asc_nulls_last("rn"))
    }),

    // ---- sorts / limits ------------------------------------------------
    // Plans as TakeOrderedAndProject: each partition keeps a 10-row heap,
    // driver merges — no global sort at any scale.
    "q_sort_limit" -> ((s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
        .limit(10)),

    // ---- set ops -------------------------------------------------------
    "q_union" -> ((s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.union(sn).distinct().orderBy(asc_nulls_last("nationkey"))
    }),

    "q_intersect" -> ((s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.intersect(sn).orderBy(asc_nulls_last("nationkey"))
    }),

    "q_except" -> ((s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.except(sn).orderBy(asc_nulls_last("nationkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
        |  l_quantity ASC NULLS LAST, l_extendedprice ASC NULLS LAST"""
        .stripMargin,

    "q_scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
        |  l_shipdate ASC NULLS LAST""".stripMargin,

    "q_join_broadcast" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,

    "q_join_shuffle" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
        |  l_extendedprice ASC NULLS LAST, o_totalprice ASC NULLS LAST"""
        .stripMargin,

    "q_join_outer" ->
      """SELECT c_custkey, o_orderkey,
        |  COALESCE(o_totalprice, 0.0) AS totalprice_filled
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST"""
        .stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey ASC NULLS LAST""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey ASC NULLS LAST""".stripMargin,

    "q_join_nullsafe" ->
      """WITH c AS (
        |  SELECT c_custkey, nullif(c_nationkey % 5, 2) AS k FROM customer
        |), su AS (
        |  SELECT s_suppkey, nullif(s_nationkey % 5, 2) AS ks FROM supplier
        |)
        |SELECT k, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT c_custkey) AS n_cust,
        |  COUNT(DISTINCT s_suppkey) AS n_supp
        |FROM c JOIN su ON k IS NOT DISTINCT FROM ks
        |GROUP BY 1
        |ORDER BY k ASC NULLS LAST""".stripMargin,

    "q_join_range" ->
      """SELECT o_orderkey, l_linenumber,
        |  datediff('day', o_orderdate, l_shipdate) AS ship_lag_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |ORDER BY o_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
        |  ship_lag_days ASC NULLS LAST""".stripMargin,

    // The oracle states the containment predicate directly (DuckDB's
    // IEJoin executes it); the Spark side proves the grid-bucketed
    // decomposition computes the same relation.
    "q_join_interval" ->
      """WITH iv AS (
        |  SELECT o_orderdate AS s0,
        |    o_orderdate + INTERVAL ((o_orderkey % 30) + 1) DAY AS e0
        |  FROM orders WHERE o_orderdate IS NOT NULL
        |), p AS (SELECT DISTINCT l_shipdate AS p FROM lineitem)
        |SELECT p.p AS ship_date, COUNT(*) AS n_open
        |FROM p JOIN iv ON iv.s0 <= p.p AND p.p <= iv.e0
        |GROUP BY p.p
        |ORDER BY ship_date ASC NULLS LAST""".stripMargin,

    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT max(s.ts) FROM events s
        |   WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |     AND s.ts <= p.ts) AS asof_signup_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id ASC NULLS LAST""".stripMargin,

    // States the semantics directly (earliest future purchase, kept
    // inside tolerance) — the correlated form the window rewrite must
    // equal.
    "q_join_asof_fwd" ->
      """SELECT c.event_id, c.user_id, c.ts,
        |  CASE WHEN (SELECT min(p.ts) FROM events p
        |      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |        AND p.ts >= c.ts) <= c.ts + INTERVAL 1 DAY
        |    THEN (SELECT min(p.ts) FROM events p
        |      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |        AND p.ts >= c.ts) END AS next_purchase_ts
        |FROM events c WHERE c.event_type = 'click'
        |ORDER BY c.event_id ASC NULLS LAST""".stripMargin,

    // States the semantics directly (max at-or-before / min at-or-after
    // per user, nearest pick with the backward tie rule) — the
    // correlated form the two-window rewrite must equal.
    "q_join_asof_nearest" ->
      """WITH b AS (
        |  SELECT c.event_id, c.user_id, c.ts,
        |    (SELECT max(p.ts) FROM events p
        |     WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |       AND p.ts <= c.ts) AS prev_ts,
        |    (SELECT min(p.ts) FROM events p
        |     WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |       AND p.ts >= c.ts) AS next_ts
        |  FROM events c WHERE c.event_type = 'click'
        |)
        |SELECT event_id, user_id, ts, prev_ts, next_ts,
        |  CASE WHEN next_ts IS NULL THEN prev_ts
        |       WHEN prev_ts IS NULL THEN next_ts
        |       WHEN ts - prev_ts <= next_ts - ts THEN prev_ts
        |       ELSE next_ts END AS nearest_purchase_ts,
        |  CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
        |       WHEN next_ts IS NULL THEN 'backward'
        |       WHEN prev_ts IS NULL THEN 'forward'
        |       WHEN ts - prev_ts <= next_ts - ts THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM b ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_agg_hash" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Det.sqlDsum("l_quantity")} AS sum_qty,
         |  ${Det.sqlDsum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
         |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         |  ${Det.sqlDavg("l_quantity")} AS avg_qty,
         |  ${Det.sqlDavg("l_extendedprice")} AS avg_price,
         |  ${Det.sqlDavg("l_discount", 6)} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST"""
        .stripMargin,

    "q_agg_distinct" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey
        |ORDER BY l_suppkey ASC NULLS LAST""".stripMargin,

    "q_agg_rollup" ->
      s"""SELECT r_name, n_name,
         |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
         |  COUNT(*) AS n_cust,
         |  ${Det.sqlDsum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY gid ASC NULLS LAST,
         |  r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |  COUNT(*) AS n_items,
         |  ${Det.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY gid ASC NULLS LAST,
         |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin,

    // Same bounded 7-row frame with the (ts, event_id) deterministic
    // order; exact integer frame sums (windowed sums pinned to BIGINT),
    // the guarded division repeats the Spark text.
    "q_window_rolling_beta" ->
      """WITH base AS (
        |  SELECT user_id, ts, event_id,
        |    (epoch_us(ts) - 1704067200000000) // 1000000 AS tt,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS yy
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS k,
        |    CAST(SUM(tt) OVER w AS BIGINT) AS st,
        |    CAST(SUM(yy) OVER w AS BIGINT) AS sy,
        |    CAST(SUM(tt * tt) OVER w AS BIGINT) AS stt,
        |    CAST(SUM(tt * yy) OVER w AS BIGINT) AS sty
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |), x AS (
        |  SELECT user_id, event_id, k, st, sy, stt, sty,
        |    k * stt - st * st AS den
        |  FROM s
        |)
        |SELECT user_id, event_id, k, den,
        |  CASE WHEN den = 0 THEN NULL ELSE
        |    CAST(k * sty - st * sy AS DOUBLE) / CAST(den AS DOUBLE)
        |  END AS beta
        |FROM x ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_agg_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |  COUNT(*) AS n_items,
         |  ${Det.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |  (l_returnflag), (l_linestatus))
         |ORDER BY gid ASC NULLS LAST,
         |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  row_number() OVER w AS rn
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST)
        |ORDER BY o_custkey ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin,

    "q_window_analytic2" ->
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER w AS pr,
        |  nth_value(value, 3) OVER w AS third_lowest,
        |  lag(value, 1, -1.0) OVER w AS prev_or_neg1,
        |  lead(value, 2) OVER w AS lead2
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |  ORDER BY value ASC NULLS LAST, event_id ASC NULLS LAST)
        |ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_window_analytic" ->
      """SELECT event_id, user_id, ts, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
        |ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_window_frame" ->
      """SELECT event_id, user_id, ts, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wrun AS DOUBLE)
        |    AS running_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wmov AS DOUBLE)
        |    / COUNT(*) OVER wmov AS moving_avg
        |FROM events
        |WINDOW
        |  wrun AS (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wmov AS (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST)
        |    AS rn
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY o_custkey ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 10""".stripMargin,

    "q_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey ASC NULLS LAST""".stripMargin,

    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey ASC NULLS LAST""".stripMargin,

    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey ASC NULLS LAST""".stripMargin
  )
}
