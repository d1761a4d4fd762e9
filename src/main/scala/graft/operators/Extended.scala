package graft.operators

import graft.CacheScope.ScopedPersist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}

/** Extended relational surface: SQL-text entry (multi-join analytics the
  * way a reference user would write them), pivot/unpivot, HAVING, full
  * outer join, exact statistical moments, RANGE frames, min_by/max_by,
  * extra calendar functions.
  *
  * The q_sql_* queries run ONE SQL text through BOTH engines (temp views
  * over the same parquet on the Spark side) — the strongest form of the
  * oracle contract, and proof of the `spark.sql` entry path.
  */
object Extended {
  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  // last sfDir registered per session — re-registering 10 views (each a
  // parquet schema read) on EVERY q_sql_* call was measurable in bench.
  // WeakHashMap: a strong session key would pin every session (and its
  // state) for the JVM lifetime.
  private val viewsFor = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register every fixture table as a temp view (memoized per session +
    * data dir), then run SQL. */
  def sql(s: SparkSession, d: String, query: String): DataFrame = {
    if (viewsFor.get(s) != d) {
      Tables.names.foreach(n => t(s, d, n).createOrReplaceTempView(n))
      viewsFor.put(s, d)
    }
    s.sql(query)
  }

  /** TPC-H Q3 shape — identical text runs on Spark and DuckDB. */
  val sqlQ3: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  o_orderdate
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC NULLS LAST, o_orderkey ASC NULLS LAST
      |LIMIT 20""".stripMargin

  /** TPC-H Q5 shape (local-supplier volume) — identical text on both. */
  val sqlQ5: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST""".stripMargin

  /** Correlated scalar subquery (Catalyst decorrelates to a left outer
    * aggregate join) — one text, both engines. */
  val sqlScalarSub: String =
    """SELECT c_custkey, c_name,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
      |    AS n_orders,
      |  (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM orders
      |   WHERE o_custkey = c_custkey) AS max_price
      |FROM customer
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin

  /** IN / NOT IN subqueries (rewritten to semi/anti joins). */
  val sqlInSub: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem
      |                    WHERE l_quantity >= 49)
      |  AND p_partkey NOT IN (SELECT l_partkey FROM lineitem
      |                        WHERE l_quantity <= 1)
      |ORDER BY p_partkey ASC NULLS LAST""".stripMargin

  /** EXISTS / NOT EXISTS correlated subqueries (decorrelated to
    * semi/anti joins — no per-row re-execution). */
  val sqlExistsSub: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_totalprice > 200000)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin

  /** Multi-referenced CTE (nation revenue used three times: rows, count,
    * sum). The above-average comparison is CROSS-MULTIPLIED — decimal
    * rev · integer count vs decimal total — so no engine ever divides:
    * decimal division scale rules differ between Spark and DuckDB, exact
    * products never do. */
  val sqlCte: String =
    """WITH nation_rev AS (
      |  SELECT n_name,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |)
      |SELECT n_name, CAST(CAST(rev AS STRING) AS DOUBLE) AS revenue
      |FROM nation_rev
      |WHERE rev * (SELECT COUNT(*) FROM nation_rev)
      |      > (SELECT SUM(rev) FROM nation_rev)
      |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube) — one text, both
    * engines. */
  val sqlGroupingSets: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
       |  (l_returnflag, l_linestatus))
       |ORDER BY l_returnflag ASC NULLS FIRST,
       |  l_linestatus ASC NULLS FIRST""".stripMargin

  /** LATERAL correlated subquery in FROM (top-1 order per customer) —
    * one text, both engines. Spark decorrelates to a ranked join;
    * customers without orders drop out (inner lateral). */
  val sqlLateral: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) o
      |ORDER BY c.c_custkey ASC NULLS LAST""".stripMargin

  /** RECURSIVE CTE (new in Spark 4) — a depth-bounded functional walk
    * over the nation keys joined back to names; one text, both engines.
    * UNION ALL + explicit depth guard, so termination is structural (no
    * reliance on either engine's cycle detection). */
  val sqlRecursive: String =
    """WITH RECURSIVE walk(nk, depth) AS (
      |  SELECT CAST(0 AS INT) AS nk, CAST(0 AS BIGINT) AS depth
      |  UNION ALL
      |  SELECT CAST((nk * 2 + 1) % 25 AS INT), depth + 1
      |  FROM walk WHERE depth < 10
      |)
      |SELECT w.depth, w.nk, n.n_name
      |FROM walk w JOIN nation n ON n.n_nationkey = w.nk
      |ORDER BY w.depth ASC NULLS LAST""".stripMargin

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_grouping_sets" -> ((s, d) => sql(s, d, sqlGroupingSets)),

    // Dynamic JSON payload → typed map column (the reference's schemaless
    // event props made relational).
    "q_map_funcs" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("props_map",
          from_json(col("props"), lit("map<string,bigint>")))
        .select(col("event_id"),
          // sorted + JSON-serialized: map key order is undefined on both
          // engines, and the driver's checker can't sort array cells
          to_json(array_sort(map_keys(col("props_map")))).as("prop_keys"),
          element_at(col("props_map"), "k").as("k_val"),
          size(col("props_map")).cast("long").as("n_props"))
        .orderBy(asc_nulls_last("event_id"))),
    "q_sql_q3" -> ((s, d) => sql(s, d, sqlQ3)),
    "q_sql_q5" -> ((s, d) => sql(s, d, sqlQ5)),
    "q_sql_scalar_subquery" -> ((s, d) => sql(s, d, sqlScalarSub)),
    "q_sql_in_subquery" -> ((s, d) => sql(s, d, sqlInSub)),
    "q_sql_exists_subquery" -> ((s, d) => sql(s, d, sqlExistsSub)),
    "q_sql_cte" -> ((s, d) => sql(s, d, sqlCte)),
    "q_sql_lateral" -> ((s, d) => sql(s, d, sqlLateral)),
    "q_sql_recursive" -> ((s, d) => sql(s, d, sqlRecursive)),

    "q_join_full" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") < 100)
        .select("c_custkey", "c_name")
      val o = t(s, d, "orders").filter(col("o_custkey") > 50)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(c("c_custkey"), c("c_name"), o("o_orderkey"),
          o("o_totalprice"))
        .orderBy(asc_nulls_last("c_custkey"), asc_nulls_last("o_orderkey"))
    }),

    "q_pivot" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .orderBy(asc_nulls_last("user_id"))),

    "q_unpivot" -> ((s, d) =>
      t(s, d, "part")
        .selectExpr("p_partkey",
          "stack(2, 'retailprice', p_retailprice, " +
            "'size', CAST(p_size AS DOUBLE)) AS (metric, val)")
        .orderBy(asc_nulls_last("p_partkey"), asc_nulls_last("metric"))),

    "q_agg_having" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_items"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("n_items") > 600)
        .orderBy(asc_nulls_last("l_suppkey"))),

    // Exact moments: variance/stddev recomputed from order-insensitive
    // decimal sums with IDENTICAL double arithmetic on both engines
    // (built-in var_samp/stddev use engine-specific update formulas —
    // never hash-comparable).
    "q_stats_moments" -> ((s, d) => {
      // r14: Det.dsum IS sum(cast(x as DECIMAL(18,s))).cast(double) on
      // the sum128 two-long accumulator — same rounding, same exact total
      val s1 = Det.dsum(col("l_discount"), 6).as("s1")
      val s2 = Det.dsum(col("l_discount") * col("l_discount"), 12)
        .as("s2")
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), s1, s2)
        .select(col("l_returnflag"), col("n"),
          (col("s1") / col("n")).as("mean"),
          ((col("s2") - col("s1") * col("s1") / col("n"))
            / (col("n") - 1)).as("var_samp"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n"))
            / (col("n") - 1)).as("stddev"))
        .orderBy(asc_nulls_last("l_returnflag"))
    }),

    // Pearson correlation + sample covariance from order-insensitive
    // exact-decimal sums, with the closed-form double arithmetic written
    // IDENTICALLY on both engines (built-in corr/covar use per-engine
    // update formulas — never hash-comparable). Same pattern as
    // q_stats_moments.
    "q_stats_corr" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          // r14: Det.dsum/dsumProd4 are value-identical to the
          // sum(cast-decimal) forms (each FACTOR rounds at scale 4, the
          // product is exact — the cross-engine parity argument is
          // unchanged), on the sum128 two-long accumulator
          Det.dsum(col("l_quantity"), 4).as("sx"),
          Det.dsum(col("l_extendedprice"), 4).as("sy"),
          Det.dsumProd4(col("l_quantity"), col("l_extendedprice"))
            .as("sxy"),
          Det.dsumProd4(col("l_quantity"), col("l_quantity")).as("sxx"),
          Det.dsumProd4(col("l_extendedprice"), col("l_extendedprice"))
            .as("syy"))
        .selectExpr("l_returnflag", "n",
          "(sxy - sx * sy / n) / (n - 1) AS covar_samp",
          "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) " +
            "* sqrt(n * syy - sy * sy)) AS corr")
        .orderBy(asc_nulls_last("l_returnflag"))),

    // OLS simple linear regression (y = extendedprice on x = quantity)
    // per returnflag, from the SAME exact-decimal sums as q_stats_corr —
    // the closed-form slope/intercept written identically on both
    // engines (built-in regr_slope uses per-engine update formulas). The
    // intercept reuses the already-computed slope double: one multiply +
    // one divide of identically-derived doubles, bit-portable (proven by
    // the q_anomaly_mad precedent).
    // Chi-squared independence of event_type × ISO weekday — "does
    // traffic mix depend on the day?", the categorical sibling of
    // q_stats_ttest. χ² = Σ (o·N − r·c)² / (r·c·N) over the contingency
    // cells; floating SUM order is partition-dependent, so each cell's
    // term is quantized to the exact integer
    // floor((o·N − r·c)²·10⁶ / (r·c·N)) — the numerator squares through
    // DECIMAL(38,0) (≈10²⁰ at the fixture scale, far under 38 digits)
    // and Spark's DIV on decimals floor-divides exactly like DuckDB's //
    // on HUGEINT — then summed as integers. One tiny cells aggregate,
    // marginals as windows over the ≤ 7×|types| grid, grand totals as a
    // 1-row broadcast (the q_stats_ttest shape). Output: one row with
    // χ²·10⁻⁶, degrees of freedom and N.
    "q_stats_chi2" -> ((s, d) => {
      val cells = t(s, d, "events")
        .groupBy(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
      val tot = broadcast(cells.agg(sum("o").as("n"))
        .withColumn("_one", lit(1)))
      cells
        .withColumn("r", sum("o").over(Window.partitionBy("event_type")))
        .withColumn("c", sum("o").over(Window.partitionBy("dow")))
        .withColumn("_one", lit(1))
        .join(tot, "_one")
        .withColumn("q", expr(
          "CAST((CAST(o * n - r * c AS DECIMAL(38,0)) * (o * n - r * c) " +
            "* 1000000) DIV (r * c * n) AS BIGINT)"))
        .agg(sum("q").as("chi2_ppm"),
          ((countDistinct(col("event_type")) - 1)
            * (countDistinct(col("dow")) - 1)).as("dof"),
          max(col("n")).as("n_events"))
    }),

    // Welch's two-sample t statistic of each event type's `value` against
    // ALL OTHER traffic — the A/B-experiment readout (unequal variances,
    // unequal sizes). One pass: per-group exact-decimal (n, Σx, Σx²) plus
    // the global totals as a 1-row broadcast; the complement ("rest")
    // moments are SUBTRACTED from the totals instead of re-scanned —
    // exactly how a metrics store serves t-tests against control at
    // 100 TB. The double-arithmetic tail (means, variances, t) is the
    // IDENTICAL expression text on both engines (the q_stats_regression
    // determinism argument: every IEEE op is correctly rounded, so equal
    // trees give equal bits); sqrt is correctly rounded too.
    "q_stats_ttest" -> ((s, d) => {
      val ev = t(s, d, "events")
      val g = ev.groupBy("event_type")
        .agg(count(col("value")).as("n"),
          Det.dsum(col("value"), 4).as("sx"),
          Det.dsumProd4(col("value"), col("value")).as("sq"))
      val tot = broadcast(ev.agg(
          count(col("value")).as("nt"),
          Det.dsum(col("value"), 4).as("st"),
          Det.dsumProd4(col("value"), col("value")).as("qt"))
        .withColumn("_one", lit(1)))
      // Degenerate cases are pinned to NULL on BOTH engines (identical
      // CASE text): a single-member group (n < 2), a rest-side with < 2
      // members (nt - n < 2, incl. the single-event-type corpus), or a
      // zero-variance denominator would otherwise hit x/0 whose
      // NULL/NaN/Inf behavior differs between Spark and DuckDB.
      g.withColumn("_one", lit(1)).join(tot, "_one")
        .selectExpr("event_type", "n",
          "sx / n AS mean_g",
          "CASE WHEN nt > n THEN (st - sx) / (nt - n) END AS mean_rest",
          "CASE WHEN n >= 2 AND nt - n >= 2 THEN " +
            "((sx / n) - (st - sx) / (nt - n)) / sqrt(" +
            "((sq - sx * sx / n) / (n - 1)) / n + " +
            "((qt - sq - (st - sx) * (st - sx) / (nt - n)) / " +
            "(nt - n - 1)) / (nt - n)) END AS t_welch")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // TOST equivalence test (Schuirmann 1987, two one-sided tests) on
    // click vs view mean value with margin δ = 5.0 — the A/B question
    // significance tests CANNOT answer: "are these two the SAME to
    // within δ?" (a non-significant t is absence of evidence; TOST is
    // evidence of absence). Two Welch one-sided statistics against ±δ
    // share one exact-sum SE; equivalence = both reject at 5%
    // (t_lower > 1.645 AND t_upper < −1.645, the shared literal).
    // Same exactness posture as q_stats_ttest: decimal sums
    // VARCHAR-free (< 2^53 here), fixed CASE-guarded trees.
    "q_stats_tost" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
      ev.agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n2"),
          // r14: the unmatched-WHEN NULL factor nulls the scaled
          // long / the product, so the same rows are skipped as under
          // sum(when(cond, cast-decimal …))
          Det.dsum(when(col("event_type") === "click", col("value")), 4)
            .as("s1"),
          Det.dsum(when(col("event_type") === "view", col("value")), 4)
            .as("s2"),
          Det.dsumProd4(when(col("event_type") === "click",
            col("value")), col("value")).as("q1"),
          Det.dsumProd4(when(col("event_type") === "view",
            col("value")), col("value")).as("q2"))
        .selectExpr("n1", "n2",
          "s1 / n1 - s2 / n2 AS mean_diff",
          "CASE WHEN n1 >= 2 AND n2 >= 2 THEN sqrt(" +
            "((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 + " +
            "((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) END AS se")
        .selectExpr("n1", "n2", "mean_diff", "se",
          "(mean_diff + 5.0) / se AS t_lower",
          "(mean_diff - 5.0) / se AS t_upper")
        .selectExpr("n1", "n2", "mean_diff", "se", "t_lower", "t_upper",
          "t_lower > 1.645 AND t_upper < -1.645 AS equivalent")
    }),

    "q_stats_regression" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          Det.dsum(col("l_quantity"), 4).as("sx"),
          Det.dsum(col("l_extendedprice"), 4).as("sy"),
          Det.dsumProd4(col("l_quantity"), col("l_extendedprice"))
            .as("sxy"),
          Det.dsumProd4(col("l_quantity"), col("l_quantity"))
            .as("sxx"))
        .selectExpr("l_returnflag", "n",
          "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope",
          "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n " +
            "AS intercept")
        .orderBy(asc_nulls_last("l_returnflag"))),

    // Distribution window functions; ordering includes the unique key so
    // ranks (hence percent_rank/cume_dist) are tie-free and exact
    // small-integer ratios — bit-identical on both engines.
    "q_window_cume" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(asc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
      t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("nt", ntile(4).over(w).cast("long"))
        .orderBy(asc_nulls_last("o_orderkey"))
    }),

    // Boundary window functions over an explicit FULL frame (the default
    // ORDER BY frame stops at CURRENT ROW, which makes last_value a
    // no-op trap — spelled out on both engines).
    "q_window_first_last" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(asc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("cheapest", first(col("o_orderkey")).over(w))
        .withColumn("priciest", last(col("o_orderkey")).over(w))
        .withColumn("third", nth_value(col("o_orderkey"), 3).over(w))
        .orderBy(asc_nulls_last("o_orderkey"))
    }),

    // Calendar arithmetic: month addition with end-of-month clamping,
    // last_day, strictly-after next-Monday, ISO week — DuckDB mirrors via
    // interval arithmetic and an explicit day-of-week formula (its
    // dayofweek is 0=Sunday, Spark's is 1=Sunday).
    "q_date_arith" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          add_months(col("o_orderdate"), 2).as("plus2m"),
          last_day(col("o_orderdate")).as("eom"),
          next_day(col("o_orderdate"), "Mon").as("next_mon"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"))
        .orderBy(asc_nulls_last("o_orderkey"))),

    // Value-based RANGE frame (well-defined under order ties, unlike ROWS).
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, 0L)
      t(s, d, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("near_sum",
          Det.exactSum(col("o_totalprice")).over(w).cast("double"))
        .withColumn("near_n", count(lit(1)).over(w))
        .orderBy(asc_nulls_last("o_custkey"), asc_nulls_last("o_orderkey"))
    }),

    // Tie-safe here: o_totalprice is unique within each customer (checked
    // at sf0.01/sf0.1); for adversarial data min_by needs a composite
    // unique ordering value.
    "q_agg_minmax_by" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(min_by(col("o_orderkey"), col("o_totalprice"))
            .as("cheapest_order"),
          max_by(col("o_orderkey"), col("o_totalprice"))
            .as("priciest_order"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(asc_nulls_last("o_custkey"))),

    "q_date_funcs2" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          quarter(col("ts")).cast("long").as("q"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          hour(col("ts")).cast("long").as("h"),
          minute(col("ts")).cast("long").as("m"),
          last_day(col("ts")).as("month_end"))
        .orderBy(asc_nulls_last("event_id"))),

    "q_string_funcs2" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_lpad"),
          rpad(col("p_type"), 10, ".").as("type_rpad"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
          levenshtein(col("p_brand"), lit("Brand#10")).cast("long")
            .as("brand_dist"),
          reverse(col("p_name")).as("name_rev"),
          expr("split_part(p_brand, '#', 2)").as("brand_no"),
          expr("left(p_name, 4)").as("name_l4"),
          expr("right(p_name, 3)").as("name_r3"))
        .orderBy(asc_nulls_last("p_partkey"))),

    // Blocked fuzzy join (record linkage): re-link dirty catalog listings
    // to their clean records — the entity-resolution step a catalog
    // pipeline runs before merging feeds. Listings get a unique name
    // (p_name + container + a short serial); every third part also ships
    // a DIRTY copy with one deterministically-deleted character (typo
    // position p_partkey % length — a data-dependent corruption, so the
    // typo lands in every region of the string across the table). The
    // linkage BLOCKS on the structured fields a typo'd feed still gets
    // right (brand#size#type, ~190k blocks): all-pairs levenshtein
    // is quadratic, blocking makes the bill Σ block² — and growing the
    // catalog grows the BLOCK COUNT, not the block size, so the bill
    // stays near-linear at scale. Edit distance gates at ≤ 2; the report
    // is per-brand link quality (linked / ambiguous / self-linked).
    // Levenshtein parity was proven by q_text_editdist.
    "q_join_fuzzy" -> ((s, d) => {
      val parts = t(s, d, "part")
        .withColumn("lname", concat(col("p_name"), lit(" "),
          col("p_type"), lit(" "), col("p_partkey") % 50))
        .withColumn("blk", concat(col("p_brand"), lit("#"),
          col("p_size"), lit("#"), col("p_type")))
      val clean = parts.select(col("p_partkey").as("ck"),
        col("lname").as("cname"), col("blk"))
      val dirty = parts.filter(col("p_partkey") % 3 === 0)
        .withColumn("pos", col("p_partkey") % length(col("lname")))
        .withColumn("dname",
          expr("concat(left(lname, pos), substring(lname, pos + 2))"))
        .select(col("p_partkey").as("dk"), col("dname"), col("blk"),
          col("p_brand"))
      dirty.join(clean, Seq("blk"))
        .withColumn("dist",
          levenshtein(col("dname"), col("cname")).cast("long"))
        .groupBy("p_brand", "dk")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("dist") <= 2, 1L).otherwise(0L)).as("n_close"),
          max(when(col("dist") <= 2 && col("ck") === col("dk"), 1L)
            .otherwise(0L)).as("self_linked"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_dirty"),
          sum("n_cand").as("n_pairs"),
          sum(when(col("n_close") >= 1, 1L).otherwise(0L)).as("n_linked"),
          sum(when(col("n_close") >= 2, 1L).otherwise(0L)).as("n_ambig"),
          sum("self_linked").as("n_self"))
        .orderBy(asc_nulls_last("p_brand"))
    }),

    // RFM customer segmentation — recency / frequency / monetary, the
    // classic lifecycle classifier: one keyed aggregate per customer
    // (last order date, order count, exact-decimal revenue), the
    // corpus max-date as a 1-row broadcast on a constant key (the
    // q_text_docfreq shape), and FIXED documented thresholds for the
    // segment CASE (a quantile-scored variant would need a global
    // ntile — the event-count-unbounded window the plan gate forbids;
    // thresholds keep the whole query one partial-agg pass).
    "q_customer_rfm" -> ((s, d) => {
      val maxD = broadcast(t(s, d, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("max_day"))
        .withColumn("_one", lit(1)))
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("frequency"),
          Det.dsum(col("o_totalprice")).as("monetary"))
        .withColumn("_one", lit(1)).join(maxD, "_one")
        .select(col("o_custkey").as("custkey"),
          datediff(col("max_day"), col("last_day")).cast("long")
            .as("recency_days"),
          col("frequency"), col("monetary"))
        .withColumn("segment",
          when(col("recency_days") <= 180 && col("frequency") >= 12,
            "champion")
            .when(col("recency_days") <= 180, "recent")
            .when(col("frequency") >= 12, "loyal_lapsing")
            .otherwise("hibernating"))
        .orderBy(asc_nulls_last("custkey"))
    }),

    // Market-basket co-occurrence with lift — the association-rules
    // primitive ("parts bought together") on the order fact. The pair
    // expansion is an in-ORDER self-join: keyed on l_orderkey, fan-out
    // bounded by parts-per-order (≈ 4–7 on TPC-H-shaped data — the
    // in-bucket LSH argument, never corpus-quadratic). Support counts
    // are exact integers; lift = (c_ab · n_orders) / (c_a · c_b) is ONE
    // IEEE division of exact BIGINT products (c_ab·n ≤ ~2e10,
    // c_a·c_b ≤ ~1e10 — far inside the 2^53 exact-integer window).
    // Per-part counts broadcast back; c_ab >= 2 prunes the huge
    // singleton tail BEFORE the ranking; TakeOrdered caps the output.
    "q_basket_pairs" -> ((s, d) => {
      // persisted: four consumers (order count, per-part counts, both
      // sides of the pair self-join) would each re-run the distinct's
      // shuffle — the frame is |distinct (order, part)| slim rows
      // ONE orderkey shuffle replaces the former distinct + re-group:
      // collect_set dedups (order, part) inside the aggregate (partial
      // merge on the map side), so the basket lists materialize without
      // a separate distinct pass; per-part order counts then derive from
      // the exploded lists (order-grain rows, narrower than the fact)
      val lists = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .persistScoped()
      // order count read off the already-grouped lists frame (one row per
      // order) — a driver literal like q_join_bloom's
      val nOrders = lists.count()
      val ca = lists.select(explode(col("ps")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      // in-row pair expansion (the candidatePairs shape): ONE shuffle on
      // l_orderkey builds each order's sorted part list, combinations
      // expand inside the task, and only the slim (pa, pb) pairs reach
      // the count shuffle — the self-join form exchanged the items frame
      // for both sides and joined before any reduction. The expansion is
      // two CHAINED GENERATORS (posexplode anchor, explode of the sorted
      // tail slice) — the q_embed_cov lesson: nested transform/flatten
      // HOFs are interpreted and allocate a struct per element, while
      // generators stay inside whole-stage codegen (3.3 → 2.4 s at
      // sf0.1, subset-measured)
      lists
        .filter(size(col("ps")) > 1)
        .select(col("ps"), posexplode(col("ps")))
        .toDF("ps", "i", "pa")
        .select(col("pa"),
          explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 2)
        .join(broadcast(ca.select(col("l_partkey").as("pa"),
          col("c").as("c_a"))), "pa")
        .join(broadcast(ca.select(col("l_partkey").as("pb"),
          col("c").as("c_b"))), "pb")
        .select(col("pa"), col("pb"), col("c_ab"), col("c_a"),
          col("c_b"),
          ((col("c_ab") * lit(nOrders)).cast("double")
            / (col("c_a") * col("c_b"))).as("lift"))
        .orderBy(desc_nulls_last("lift"), asc_nulls_last("pa"),
          asc_nulls_last("pb"))
        .limit(100)
    }),

    "q_conditional_agg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count_if(col("value") > 100).as("n_big"),
          bool_and(col("value") > 0).as("all_positive"),
          bool_or(col("value") > 300).as("any_huge"),
          // r14: identical to sum(cast(when … as DECIMAL(18,4))) cast
          // double — the unmatched-WHEN NULL is skipped either way
          Det.dsum(when(col("value") > 100, col("value")), 4)
            .as("sum_big"))
        .orderBy(asc_nulls_last("event_type"))),

    "q_bitwise" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(255L)).as("ek_and"),
          col("event_id").bitwiseOR(lit(4096L)).as("ek_or"),
          col("event_id").bitwiseXOR(col("user_id")).as("ek_xor"),
          expr("shiftleft(event_id % 16, 2)").as("ek_shl"),
          expr("shiftright(event_id, 3)").as("ek_shr"))
        .orderBy(asc_nulls_last("event_id"))),

    // Exact median — identical window-rank formulation on both engines
    // (built-in percentile/quantile interpolation orders differ).
    "q_median_exact" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(asc_nulls_last("o_totalprice"), asc_nulls_last("o_orderkey"))
      t(s, d, "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy("o_orderstatus")))
        // explicit floor: `/` is float division on BOTH engines, which
        // would otherwise silently drop the lower-middle row for even n
        .filter(col("rn") === floor((col("n") + 1) / 2)
          || col("rn") === floor((col("n") + 2) / 2))
        .groupBy("o_orderstatus")
        .agg((Det.dsum(col("o_totalprice")) / count(lit(1)))
          .as("median_price"))
        .orderBy(asc_nulls_last("o_orderstatus"))
    }),

    "q_array_funcs2" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"),
          // serialized scalars (driver's checker can't sort array cells)
          Det.arrCsv("slice(sort_array(embedding), 1, 3)").as("smallest3"),
          array_max(col("embedding")).cast("double").as("max_val"),
          array_min(col("embedding")).cast("double").as("min_val"),
          Det.arrCsv("reverse(slice(embedding, 1, 4))").as("head4_rev"),
          size(flatten(array(slice(col("embedding"), 1, 2),
            slice(col("embedding"), 3, 2)))).cast("long").as("flat_n"))
        .orderBy(asc_nulls_last("vec_id")))
  )

  val oracle: Map[String, String] = Map(
    "q_sql_grouping_sets" -> sqlGroupingSets,

    "q_stats_corr" ->
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |      * CAST(l_quantity AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  (sxy - sx * sy / n) / (n - 1) AS covar_samp,
        |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx)
        |    * sqrt(n * syy - sy * sy)) AS corr
        |FROM g ORDER BY l_returnflag ASC NULLS LAST""".stripMargin,

    // Same cells/marginals/totals; HUGEINT squares, // floor division,
    // integer sum — cell-order-independent by construction.
    "q_stats_chi2" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
        |    COUNT(*) AS o
        |  FROM events GROUP BY event_type, isodow(ts)
        |), n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |m AS (
        |  SELECT event_type, dow, o,
        |    CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS c
        |  FROM cells
        |)
        |SELECT CAST(SUM((CAST(m.o * n.n - m.r * m.c AS HUGEINT)
        |    * (m.o * n.n - m.r * m.c) * 1000000)
        |    // (m.r * m.c * n.n)) AS BIGINT) AS chi2_ppm,
        |  CAST((COUNT(DISTINCT m.event_type) - 1)
        |    * (COUNT(DISTINCT m.dow) - 1) AS BIGINT) AS dof,
        |  max(n.n) AS n_events
        |FROM m, n""".stripMargin,

    // Same one-pass group + 1-row-total shape; the double tail is the
    // identical expression text (see the Spark-side determinism note).
    "q_stats_ttest" ->
      """WITH g AS (
        |  SELECT event_type, COUNT(value) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))
        |      * CAST(value AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sq
        |  FROM events GROUP BY event_type
        |), tot AS (
        |  SELECT COUNT(value) AS nt,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS st,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))
        |      * CAST(value AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS qt
        |  FROM events
        |)
        |SELECT event_type, n,
        |  sx / n AS mean_g,
        |  CASE WHEN nt > n THEN (st - sx) / (nt - n) END AS mean_rest,
        |  CASE WHEN n >= 2 AND nt - n >= 2 THEN
        |    ((sx / n) - (st - sx) / (nt - n)) / sqrt(
        |    ((sq - sx * sx / n) / (n - 1)) / n +
        |    ((qt - sq - (st - sx) * (st - sx) / (nt - n)) /
        |    (nt - n - 1)) / (nt - n)) END AS t_welch
        |FROM g, tot
        |ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // Same one-pass conditional sums (VARCHAR-routed like the anova
    // pieces), shared SE, verbatim TOST trees and the 1.645 literal.
    "q_stats_tost" ->
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS VARCHAR) AS DOUBLE) AS s2,
        |    CAST(CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,4))
        |        * CAST(value AS DECIMAL(19,4)) END)
        |      AS VARCHAR) AS DOUBLE) AS q1,
        |    CAST(CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,4))
        |        * CAST(value AS DECIMAL(19,4)) END)
        |      AS VARCHAR) AS DOUBLE) AS q2
        |  FROM events WHERE event_type IN ('click', 'view')
        |), m AS (
        |  SELECT n1, n2, s1 / n1 - s2 / n2 AS mean_diff,
        |    CASE WHEN n1 >= 2 AND n2 >= 2 THEN sqrt(
        |      ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 +
        |      ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) END AS se
        |  FROM a
        |), tt AS (
        |  SELECT *, (mean_diff + 5.0) / se AS t_lower,
        |    (mean_diff - 5.0) / se AS t_upper
        |  FROM m
        |)
        |SELECT n1, n2, mean_diff, se, t_lower, t_upper,
        |  t_lower > 1.645 AND t_upper < -1.645 AS equivalent
        |FROM tt""".stripMargin,

    "q_stats_regression" ->
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |      * CAST(l_quantity AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    AS intercept
        |FROM g ORDER BY l_returnflag ASC NULLS LAST""".stripMargin,

    "q_window_first_last" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  first_value(o_orderkey) OVER w AS cheapest,
        |  last_value(o_orderkey) OVER w AS priciest,
        |  nth_value(o_orderkey, 3) OVER w AS third
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,

    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY
        |    * ((1 - dayofweek(o_orderdate) + 6) % 7 + 1) AS DATE)
        |    AS next_mon,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
        |FROM orders ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,

    "q_window_cume" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS nt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC NULLS LAST)
        |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,

    "q_map_funcs" ->
      """SELECT event_id,
        |  CAST(to_json(list_sort(json_keys(props))) AS VARCHAR) AS prop_keys,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_props
        |FROM events ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_sql_q3" -> sqlQ3,
    "q_sql_q5" -> sqlQ5,
    "q_sql_scalar_subquery" -> sqlScalarSub,
    "q_sql_in_subquery" -> sqlInSub,
    "q_sql_exists_subquery" -> sqlExistsSub,
    "q_sql_cte" -> sqlCte,
    "q_sql_lateral" -> sqlLateral,
    "q_sql_recursive" -> sqlRecursive,

    "q_join_full" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100) c
        |FULL OUTER JOIN (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_custkey > 50) o
        |ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST"""
        .stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        |    AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
        |    AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
        |    AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
        |    AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
        |    AS view
        |FROM events GROUP BY user_id
        |ORDER BY user_id ASC NULLS LAST""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |ORDER BY p_partkey ASC NULLS LAST, metric ASC NULLS LAST"""
        .stripMargin,

    "q_agg_having" ->
      s"""SELECT l_suppkey, COUNT(*) AS n_items,
         |  ${Det.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_suppkey
         |HAVING COUNT(*) > 600
         |ORDER BY l_suppkey ASC NULLS LAST""".stripMargin,

    "q_stats_moments" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,12)))
        |      AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  s1 / n AS mean,
        |  (s2 - s1 * s1 / n) / (n - 1) AS var_samp,
        |  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev
        |FROM a ORDER BY l_returnflag ASC NULLS LAST""".stripMargin,

    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    AS near_sum,
        |  COUNT(*) OVER w AS near_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST"""
        .stripMargin,

    "q_agg_minmax_by" ->
      """SELECT o_custkey,
        |  arg_min(o_orderkey, o_totalprice) AS cheapest_order,
        |  arg_max(o_orderkey, o_totalprice) AS priciest_order,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey ASC NULLS LAST""".stripMargin,

    "q_date_funcs2" ->
      """SELECT event_id,
        |  CAST(quarter(ts) AS BIGINT) AS q,
        |  CAST(day(ts) AS BIGINT) AS dom,
        |  CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(minute(ts) AS BIGINT) AS m,
        |  last_day(ts) AS month_end
        |FROM events ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_string_funcs2" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_lpad,
        |  rpad(p_type, 10, '.') AS type_rpad,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        |  levenshtein(p_brand, 'Brand#10') AS brand_dist,
        |  reverse(p_name) AS name_rev,
        |  split_part(p_brand, '#', 2) AS brand_no,
        |  left(p_name, 4) AS name_l4,
        |  right(p_name, 3) AS name_r3
        |FROM part ORDER BY p_partkey ASC NULLS LAST""".stripMargin,

    // Same synthesis (unique listing name, one-char deletion at
    // p_partkey % length), same brand#size#type block, same ≤2
    // levenshtein gate.
    "q_join_fuzzy" ->
      """WITH base AS (
        |  SELECT p_partkey, p_brand,
        |    p_name || ' ' || p_type || ' ' ||
        |      CAST(p_partkey % 50 AS VARCHAR) AS lname,
        |    p_brand || '#' || CAST(p_size AS VARCHAR) || '#' ||
        |      p_type AS blk
        |  FROM part
        |), clean AS (
        |  SELECT p_partkey AS ck, lname AS cname, blk FROM base
        |), dirty AS (
        |  SELECT p_partkey AS dk, p_brand, blk,
        |    left(lname, CAST(p_partkey % length(lname) AS INT)) ||
        |      substring(lname,
        |        CAST(p_partkey % length(lname) AS INT) + 2) AS dname
        |  FROM base WHERE p_partkey % 3 = 0
        |), j AS (
        |  SELECT d.p_brand, d.dk,
        |    CAST(COUNT(*) AS BIGINT) AS n_cand,
        |    CAST(SUM(CASE WHEN levenshtein(d.dname, c.cname) <= 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
        |    CAST(MAX(CASE WHEN levenshtein(d.dname, c.cname) <= 2
        |        AND c.ck = d.dk THEN 1 ELSE 0 END) AS BIGINT)
        |      AS self_linked
        |  FROM dirty d JOIN clean c ON d.blk = c.blk
        |  GROUP BY d.p_brand, d.dk
        |)
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_dirty,
        |  CAST(SUM(n_cand) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN n_close >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_linked,
        |  CAST(SUM(CASE WHEN n_close >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ambig,
        |  CAST(SUM(self_linked) AS BIGINT) AS n_self
        |FROM j GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS LAST""".stripMargin,

    "q_customer_rfm" ->
      s"""WITH m AS (
         |  SELECT MAX(CAST(o_orderdate AS DATE)) AS max_day FROM orders
         |), r AS (
         |  SELECT o_custkey AS custkey,
         |    CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)), max_day)
         |      AS BIGINT) AS recency_days,
         |    COUNT(*) AS frequency,
         |    ${Det.sqlDsum("o_totalprice")} AS monetary
         |  FROM orders, m
         |  GROUP BY o_custkey, max_day
         |)
         |SELECT custkey, recency_days, frequency, monetary,
         |  CASE WHEN recency_days <= 180 AND frequency >= 12
         |         THEN 'champion'
         |       WHEN recency_days <= 180 THEN 'recent'
         |       WHEN frequency >= 12 THEN 'loyal_lapsing'
         |       ELSE 'hibernating' END AS segment
         |FROM r ORDER BY custkey ASC NULLS LAST""".stripMargin,

    "q_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n AS (
        |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |  FROM items
        |), ca AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM items GROUP BY 1
        |), p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT pa, pb, c_ab, ca.c AS c_a, cb.c AS c_b,
        |  CAST(c_ab * n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
        |FROM p
        |JOIN ca ON pa = ca.l_partkey
        |JOIN ca cb ON pb = cb.l_partkey
        |CROSS JOIN n
        |WHERE c_ab >= 2
        |ORDER BY lift DESC NULLS LAST, pa ASC NULLS LAST,
        |  pb ASC NULLS LAST
        |LIMIT 100""".stripMargin,

    "q_conditional_agg" ->
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 100) AS n_big,
        |  bool_and(value > 0) AS all_positive,
        |  bool_or(value > 300) AS any_huge,
        |  CAST(SUM(CASE WHEN value > 100 THEN CAST(value AS DECIMAL(18,4))
        |    END) AS DOUBLE) AS sum_big
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC NULLS LAST""".stripMargin,

    "q_bitwise" ->
      """SELECT event_id,
        |  event_id & 255 AS ek_and,
        |  event_id | 4096 AS ek_or,
        |  xor(event_id, user_id) AS ek_xor,
        |  (event_id % 16) << 2 AS ek_shl,
        |  event_id >> 3 AS ek_shr
        |FROM events ORDER BY event_id ASC NULLS LAST""".stripMargin,

    "q_median_exact" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC NULLS LAST,
        |        o_orderkey ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders
        |)
        |SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*) AS median_price
        |FROM r WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin,

    "q_array_funcs2" ->
      s"""SELECT vec_id,
        |  ${Det.sqlArrCsv("list_slice(list_sort(embedding), 1, 3)")}
        |    AS smallest3,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_val,
        |  ${Det.sqlArrCsv("list_reverse(list_slice(embedding, 1, 4))")}
        |    AS head4_rev,
        |  CAST(len(flatten([list_slice(embedding, 1, 2),
        |    list_slice(embedding, 3, 4)])) AS BIGINT) AS flat_n
        |FROM embeddings ORDER BY vec_id ASC NULLS LAST""".stripMargin
  )
}
