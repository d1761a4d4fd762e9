package graft.operators

import graft.CacheScope.ScopedPersist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** Event-stream analytics over the bus-event table — the product-side
  * questions a workflow/event engine answers about its own traffic:
  *
  *  - `q_funnel`: ordered-stage conversion (signup → click → purchase,
  *    each stage strictly after the previous one's FIRST occurrence);
  *  - `q_retention`: cohort retention (first-seen day × day-offset
  *    activity grid);
  *  - `q_resample_ffill`: per-user daily resampling with
  *    forward-fill — the gap-filling step of feature/time-series
  *    pipelines.
  *
  * Determinism: stage times are MINs of microsecond-floored timestamps,
  * retention cells are integer counts, and the daily values are exact
  * decimal sums (graft.Det) — nothing depends on partition order. The
  * forward-fill window is `last(ignoreNulls)` over ROWS UNBOUNDED
  * PRECEDING with a unique (user, day) ordering, mirrored by DuckDB's
  * `last_value(x IGNORE NULLS)` over the same frame.
  *
  * Scale: every query aggregates to per-user grain first (one shuffle on
  * user_id, partial aggregation absorbing hot users), then joins
  * user-grain frames that are co-partitioned by construction. The spine
  * explode in the resample is bounded by the observed per-user date span.
  */
object EventAnalytics {
  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  /** Ljung–Box common denominator P = Π_{j=1..7}(nd−j), every factor
    * cast wide BEFORE the multiply (`ty` = DECIMAL(38,0) on Spark /
    * HUGEINT on DuckDB) so the product never transits BIGINT. */
  private def lbFull(ty: String): String =
    (1 to 7).map(j => s"CAST(nd - $j AS $ty)").mkString(" * ")

  /** Per-lag exclusion product P_k = Π_{j=1..7, j≠k}(nd−j) — the exact
    * value of P/(nd−k) written as a 6-factor product so no integer
    * division (and no narrow intermediate) ever happens. */
  private def lbExcl(ty: String): String = (1 to 7).map(k =>
    s"WHEN $k THEN " + (1 to 7).filter(_ != k)
      .map(j => s"CAST(nd - $j AS $ty)").mkString(" * "))
    .mkString("CASE lag ", " ", " END")

  /** Entropy assembly from an (event_type, hod, c) hour-histogram count
    * frame — shared by q_event_entropy and its streaming twin: the
    * histogram is an update-mode-maintainable count state, and because
    * every log2 is the bit-portable chain and each per-bucket term
    * quantizes to the exact 1e-10 integer grid before the sum, any
    * batch split of the stream drains through this to the identical
    * result (StreamingParitySpec). */
  def entropyFrom(hc: DataFrame): DataFrame = {
    val terms = hc
      .withColumn("e2", expr(Det.log2Exp("c")))
      .withColumn("mm", expr(Det.mantissa("c", "e2")))
      .withColumn("zz", expr(Det.zOfM("mm")))
      .withColumn("l2",
        expr(s"CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")}"))
      .withColumn("q", expr(
        "CAST(floor(CAST(c AS DOUBLE) * l2 " +
          "* CAST(10000000000 AS DOUBLE) " +
          "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_hours"),
        sum("q").as("sq"))
    terms
      .withColumn("e2", expr(Det.log2Exp("n_events")))
      .withColumn("mm", expr(Det.mantissa("n_events", "e2")))
      .withColumn("zz", expr(Det.zOfM("mm")))
      .withColumn("entropy_bits", expr(
        s"CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")} " +
          "- CAST(sq AS DOUBLE) / CAST(10000000000 AS DOUBLE) " +
          "/ CAST(n_events AS DOUBLE)"))
      .select("event_type", "n_events", "n_hours", "entropy_bits")
  }

  /** Per-user ordered (prev_type, next_type) transition pairs — the lag
    * half of q_markov_transition, shared with the streaming twin
    * ([[graft.streaming.StatefulTwins.transitionStream]]): batch derives
    * pairs with a lag window, streaming with per-key state; both feed
    * [[transitionMatrix]]. Ordering is the full µs timestamp + event_id
    * (Timestamp ms-truncation would misorder same-ms events). */
  def transitionPairs(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("user_id"), col("prev_type"),
        col("event_type").as("next_type"))
  }

  /** (prev, next) pair stream → exact transition counts + row-normalized
    * probabilities (ONE IEEE division of exact integers; see
    * q_text_bigram_prob). The matrix is |types|² — tiny at any corpus
    * size — so the totals join is a broadcast at scale. */
  def transitionMatrix(pairs: DataFrame): DataFrame = {
    val counts = pairs.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    // row totals via a window over the counts (|types|² rows), not a
    // counts⋈counts self-join: one shuffle fewer, and it stays valid
    // over view-backed inputs (self-joining the same streaming sink view
    // trips Catalyst's reference dedup)
    val wTot = Window.partitionBy("prev_type")
    counts.withColumn("n_prev", sum("n").over(wTot))
      .select(col("prev_type"), col("next_type"), col("n"), col("n_prev"),
        (col("n").cast("double") / col("n_prev").cast("double")).as("p"))
      .orderBy(asc_nulls_last("prev_type"), asc_nulls_last("next_type"))
  }

  /** Trailing-hour per-user velocity features for EVERY event (count +
    * exact-decimal value sum over the preceding hour) — a value-based
    * RANGE frame over integer microseconds. RANGE includes all tie rows,
    * so the result is independent of intra-tie order. Shared with the
    * streaming twin ([[graft.streaming.StatefulTwins.trailingHourStream]]),
    * which keeps a 1-hour per-key buffer instead of the window. Unsorted;
    * the declared query adds its ORDER BY. */
  def trailingHour(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu"))
      .rangeBetween(-3600L * 1000000L, 0L)
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        Det.exactSum(col("value")).over(w).cast("double"))
      .select("user_id", "event_id", "tsu", "n_1h", "sum_1h")
  }

  /** 30-minute-gap session intervals per user (the q_path_per_session
    * islands) as (user_id, s, e) in exact µs — the batch half shared
    * with the streaming twin
    * ([[graft.streaming.StatefulTwins.sessionIntervalsStream]]), which
    * closes the same intervals incrementally via event-time timeout. */
  def sessionIntervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev_tsu", lag("tsu", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_tsu").isNull
          || col("tsu") - col("prev_tsu") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess", sum("new_sess").over(w))
      .groupBy("user_id", "sess")
      .agg(min("tsu").as("s"), max("tsu").as("e"))
      .select("user_id", "s", "e")
  }

  /** Sweep line over (s, e) intervals: ±1 boundaries, per-instant deltas,
    * and the TWO-LEVEL distributed prefix sum (day carry over bounded
    * day totals + day-partitioned running sum) that holds at 100 TB
    * where a global running sum would be one sequential task. Returns
    * (tsu, d, conc) unsorted; the declared query adds its ORDER BY. */
  /** Day-grain (day, yd, n_events) point frame — the exact-decimal
    * daily series q_ts_decompose and q_anomaly_stl read, and the state
    * a streaming twin maintains incrementally (update-mode groupBy day;
    * decimal sums are order-insensitive, so the drained state is
    * identical to the batch frame). */
  def dailyPoints(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(Det.exactSum(col("value")).as("yd"),
        count(lit(1)).as("n_events"))

  /** Per-(event_type, day) exact-decimal value sums — the Theil–Sen
    * state frame. PUBLIC and mode-agnostic like [[dailyPoints]]: as a
    * streaming keyed aggregate in update mode this is the live daily
    * state, and StreamingParitySpec proves the drained sums assemble
    * the identical median slope through [[theilSenFrom]]. `value IS
    * NOT NULL` keeps every day sum non-null (an all-null day would put
    * a NULL rational into the median selection). */
  def theilSenDaily(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Det.exactSum(col("value")).as("yd"))

  /** Theil–Sen assembly from a (event_type, day, yd) daily frame — see
    * the q_ts_theil_sen entry for the exactness and scale argument. */
  def theilSenFrom(daily: DataFrame): DataFrame = {
    val slopes = daily
      .join(daily.select(col("event_type"), col("day").as("day2"),
        col("yd").as("yd2")), Seq("event_type"))
      .filter(col("day") < col("day2"))
      .select(col("event_type"),
        (col("yd2") - col("yd")).as("num"),
        datediff(col("day2"), col("day")).cast("long").as("den"))
      .withColumn("slope", col("num").cast("double") / col("den"))
    val w = Window.partitionBy("event_type")
      .orderBy(asc_nulls_last("slope"), asc_nulls_last("num"),
        asc_nulls_last("den"))
    val np = slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"))
    val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    slopes.withColumn("rn", row_number().over(w))
      .join(np, "event_type")
      .filter(col("rn") === expr("(n_pairs + 1) DIV 2")
        || col("rn") === expr("n_pairs DIV 2 + 1"))
      .groupBy("event_type", "n_pairs")
      .agg(
        max(when(col("rn") === expr("(n_pairs + 1) DIV 2"),
          col("num"))).as("nlo"),
        max(when(col("rn") === expr("(n_pairs + 1) DIV 2"),
          col("den"))).as("den_lo"),
        max(when(col("rn") === expr("n_pairs DIV 2 + 1"),
          col("num"))).as("nhi"),
        max(when(col("rn") === expr("n_pairs DIV 2 + 1"),
          col("den"))).as("den_hi"))
      .join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("nlo").cast("string").as("num_lo"), col("den_lo"),
        col("nhi").cast("string").as("num_hi"), col("den_hi"),
        ((col("nlo").cast("double") / col("den_lo")
          + col("nhi").cast("double") / col("den_hi")) / 2.0)
          .as("slope_per_day"))
      .orderBy(asc_nulls_last("event_type"))
  }

  /** STL-lite assembly from a (day, yd, n_events) point frame — see
    * q_ts_decompose's doc for the arithmetic and scale argument. A
    * streamed replica of the point frame yields the identical
    * decomposition (StreamingParitySpec). */
  def decomposeFrom(daily0: DataFrame): DataFrame = {
    val daily = daily0
      .withColumn("dayn", datediff(col("day"), lit("2024-01-01")))
    val w = Window.orderBy("dayn").rangeBetween(-3, 3)
    val tr = daily
      .withColumn("t7", sum(col("yd")).over(w))
      .withColumn("c7", count(lit(1)).over(w))
      .withColumn("dow", (expr("weekday(day)") + 1).cast("long"))
    val se = tr.filter(col("c7") === 7)
      .groupBy("dow")
      .agg(sum(lit(7) * col("yd") - col("t7")).as("s_num"),
        count(lit(1)).as("s_cnt"))
    tr.join(broadcast(se), Seq("dow"), "left")
      .withColumn("y", col("yd").cast("double"))
      .withColumn("trend", col("t7").cast("double") / col("c7"))
      .withColumn("seasonal",
        col("s_num").cast("double") / (lit(7L) * col("s_cnt")))
      .withColumn("resid", col("y") - col("trend") - col("seasonal"))
      .select("day", "n_events", "y", "trend", "seasonal", "resid")
  }

  /** Shared WITH-body of the STL-lite day grid (daily → windowed trend
    * → dow seasonal → dec with the final per-cell IEEE ops) — the
    * DuckDB mirror of [[decomposeFrom]], reused by q_ts_decompose and
    * q_anomaly_stl. */
  private def decomposeCtes: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS yd,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1
      |), tr AS (
      |  SELECT day, n_events, yd,
      |    isodow(day) AS dow,
      |    SUM(yd) OVER w AS t7,
      |    COUNT(*) OVER w AS c7
      |  FROM daily
      |  WINDOW w AS (
      |    ORDER BY datediff('day', DATE '2024-01-01', day)
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), se AS (
      |  SELECT dow, SUM(7 * yd - t7) AS s_num, COUNT(*) AS s_cnt
      |  FROM tr WHERE c7 = 7 GROUP BY dow
      |), dec AS (
      |  SELECT tr.day, tr.n_events,
      |    CAST(CAST(yd AS VARCHAR) AS DOUBLE) AS y,
      |    CAST(CAST(t7 AS VARCHAR) AS DOUBLE) / c7 AS trend,
      |    CAST(CAST(s_num AS VARCHAR) AS DOUBLE) / (7 * s_cnt)
      |      AS seasonal,
      |    CAST(CAST(yd AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(t7 AS VARCHAR) AS DOUBLE) / c7
      |      - CAST(CAST(s_num AS VARCHAR) AS DOUBLE) / (7 * s_cnt)
      |      AS resid
      |  FROM tr LEFT JOIN se ON tr.dow = se.dow
      |)""".stripMargin

  def sweepLine(intervals: DataFrame): DataFrame = {
    val deltas = intervals
      .select(explode(array(
        struct(col("s").as("tsu"), lit(1L).as("delta")),
        struct((col("e") + 1L).as("tsu"), lit(-1L).as("delta")))).as("b"))
      .select("b.tsu", "b.delta")
      .groupBy("tsu").agg(sum("delta").as("d"))
      .withColumn("day", expr("CAST(timestamp_micros(tsu) AS DATE)"))
      // consumed twice (day-carry aggregate + final join): persist so
      // the sessionization window subtree runs once per pass, not twice
      // (Verify/Bench clearCache() handles cleanup)
      .persistScoped()
    val wDays = Window.orderBy(asc_nulls_last("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy("day").agg(sum("d").as("day_d"))
      .withColumn("carry", coalesce(sum("day_d").over(wDays), lit(0L)))
      .select("day", "carry")
    val wIn = Window.partitionBy("day").orderBy(asc_nulls_last("tsu"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.join(carry, "day")
      .withColumn("conc", col("carry") + sum("d").over(wIn))
      .select("tsu", "d", "conc")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Last-touch revenue attribution: every purchase is credited to the
    // user's most recent PRECEDING marketing touch (click or view; none
    // yet → "direct"). The carry is `last(..., ignoreNulls)` over a
    // per-user ROWS frame ending at 1 PRECEDING — the proven bit-exact
    // twin of DuckDB's last_value(... IGNORE NULLS) under a unique
    // (ts, event_id) ordering (SURVEY §7.4 round-3-session notes). One
    // partitioned window + one tiny grouped agg: at 100 TB this is a
    // single keyed shuffle on user_id, no self-join, no global state.
    "q_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"),
            col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          Det.dsum(col("value")).as("revenue"))
        .orderBy(asc_nulls_last("touch"))
    }),

    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands: consecutive active days share the same
    // (day − row_number) anchor, so one partitioned window + two slim
    // keyed aggregates produce every streak without self-joins or
    // recursion. Integer day arithmetic end-to-end (UTC date truncation
    // on both engines, the q_retention precedent); all windows are
    // user-partitioned.
    "q_user_streaks" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("rn", row_number().over(w))
        .withColumn("anchor", expr("date_sub(day, rn)"))
        .groupBy("user_id", "anchor")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          sum("len").as("n_active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy(asc_nulls_last("user_id"))
    }),

    // Ordered conversion funnel. Stages must happen in sequence: the
    // click must be at-or-after the user's FIRST signup, the purchase
    // at-or-after the first qualifying click. min() of a microsecond
    // timestamp is deterministic regardless of event ties.
    "q_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val users = ev.select("user_id").distinct()
      val sStage = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val cStage = ev.filter(col("event_type") === "click")
        .join(sStage, "user_id")
        .filter(col("ts") >= col("s_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val pStage = ev.filter(col("event_type") === "purchase")
        .join(cStage, "user_id")
        .filter(col("ts") >= col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      users
        .join(sStage, Seq("user_id"), "left")
        .join(cStage, Seq("user_id"), "left")
        .join(pStage, Seq("user_id"), "left")
        .withColumn("stage",
          when(col("s_ts").isNull, 0L)
            .when(col("c_ts").isNull, 1L)
            .when(col("p_ts").isNull, 2L)
            .otherwise(3L))
        .select("user_id", "s_ts", "c_ts", "p_ts", "stage")
        .orderBy(asc_nulls_last("user_id"))
    }),

    // Time-to-convert statistics over the funnel stage times — the
    // latency half of funnel analysis (how LONG each conversion step
    // takes, not just how many make it). Exact integer µs differences
    // per user, stacked into one (transition, dt) stream; count/min/max/
    // sum stay integers and the mean is ONE IEEE division. Reuses the
    // declared q_funnel plan; the stack explode is ×2 and the aggregate
    // output is 2 rows at any corpus size.
    "q_funnel_time" -> ((s, d) =>
      queries("q_funnel")(s, d)
        .select(expr(
          "stack(2, " +
            "'click_to_purchase', unix_micros(p_ts) - unix_micros(c_ts), " +
            "'signup_to_click', unix_micros(c_ts) - unix_micros(s_ts)) " +
            "AS (transition, dt)"))
        .filter(col("dt").isNotNull)
        .groupBy("transition")
        .agg(count(lit(1)).as("n_users"),
          min("dt").as("min_us"), max("dt").as("max_us"),
          sum("dt").as("sum_us"))
        .withColumn("mean_us",
          col("sum_us").cast("double") / col("n_users"))
        .orderBy(asc_nulls_last("transition"))),

    // Cohort retention: users grouped by first-seen day; a cohort cell
    // (cohort_day, day_offset) counts the distinct users active exactly
    // offset days after their first day. Bounded to offsets 0-14 so the
    // output is a fixed small grid at any corpus size.
    "q_retention" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      val active = ev.distinct()
      active.join(first, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .filter(col("day_offset").between(0, 14))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy(asc_nulls_last("cohort_day"), asc_nulls_last("day_offset"))
    }),

    // Cohort LTV curves — the revenue sibling of q_retention: users
    // cohorted by first-activity week, purchase revenue bucketed by
    // weeks-since-cohort, and the running CUMULATIVE revenue per cohort
    // (the "LTV at week k" curve). The cumulative window sums exact
    // DECIMAL(18,4) casts (Spark's sequential and DuckDB's
    // segment-tree window algorithms only agree on order-insensitive
    // exact arithmetic — the q_window_frame lesson) and runs over the
    // (cohort, week) grid: week-grain rows bounded by the calendar
    // span, partitioned by cohort. Two keyed aggregates + one bounded
    // partitioned window.
    "q_cohort_ltv" -> ((s, d) => {
      val ev = t(s, d, "events")
      val first = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("first_day"))
        .select(col("user_id"),
          floor(datediff(col("first_day"), lit("2024-01-01")) / 7)
            .cast("long").as("cohort_w"))
      val grid = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
            .cast("long").as("w"))
        .join(first, "user_id")
        .withColumn("week_idx", col("w") - col("cohort_w"))
        .groupBy("cohort_w", "week_idx")
        .agg(Det.dsum(col("value")).as("week_rev"),
          countDistinct("user_id").as("n_buyers"))
      val wc = Window.partitionBy("cohort_w").orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cum_ltv",
        Det.exactSum(col("week_rev")).over(wc).cast("double"))
        .orderBy(asc_nulls_last("cohort_w"), asc_nulls_last("week_idx"))
    }),

    // SCD2-style state history: collapse each user's event stream into
    // validity intervals of consecutive same-type runs — the
    // slowly-changing-dimension build step (and the reference's
    // workflow-instance history materialized as rows). Run starts are
    // rows whose type differs from the previous event's; valid_to is the
    // next run's start (NULL for the open run). Two partitioned windows,
    // one shuffle on user_id.
    "q_scd2_intervals" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
      val starts = t(s, d, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull
          || col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
      starts
        .withColumn("valid_to", lead("ts", 1).over(w2))
        .select(col("user_id"), col("event_id").as("start_event_id"),
          col("event_type"), col("ts").as("valid_from"), col("valid_to"))
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("valid_from"),
          asc_nulls_last("start_event_id"))
    }),

    // CDC snapshot diff: the state of each key at cutoff T vs at the
    // head of the log, classified added/changed/unchanged — the
    // "what did this batch of changes do" audit every incremental
    // pipeline needs. Both versions come from ONE keyed aggregate pass:
    // max over a (ts, event_id, value) struct is a lexicographic
    // argmax — associative and null-skipping, so partial (map-side)
    // aggregation and AQE re-splits are safe, unlike the window+filter
    // formulation which would sort every key group. 'removed' cannot
    // occur in an append-only log and is therefore not a class here.
    "q_snapshot_diff" -> ((s, d) => {
      val cut = lit("2024-01-15").cast("timestamp")
      t(s, d, "events")
        .groupBy("user_id")
        .agg(
          max(when(col("ts") < cut,
            struct(col("ts"), col("event_id"), col("value")))).as("s1"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("s2"))
        .select(col("user_id"), col("s1.value").as("v_before"),
          col("s2.value").as("v_after"))
        .withColumn("change",
          when(col("v_before").isNull, "added")
            .when(col("v_before") === col("v_after"), "unchanged")
            .otherwise("changed"))
        .orderBy(asc_nulls_last("user_id"))
    }),

    // Per-session path analysis: sessions by 30-minute inactivity gaps
    // (gaps-and-islands in exact microsecond arithmetic), each session's
    // first-5 event-type path, top-20 paths by frequency. The path
    // collect is sort_array'd (partition-order-invariant); session ids
    // are running sums of gap indicators — one user_id shuffle, then one
    // path-key aggregate.
    "q_path_per_session" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
      val sess = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"))
        .withColumn("prev_tsu", lag("tsu", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_tsu").isNull
            || col("tsu") - col("prev_tsu") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum("new_sess").over(w))
      val ws = Window.partitionBy("user_id", "sess")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
      sess
        .withColumn("rn", row_number().over(ws))
        .filter(col("rn") <= 5)
        .groupBy("user_id", "sess")
        .agg(concat_ws(">", expr(
          "transform(sort_array(collect_list(struct(tsu, event_id, " +
            "event_type))), x -> x.event_type)")).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc_nulls_last("n_sessions"), asc_nulls_last("path"))
        .limit(20)
    }),

    // Robust outlier gate: per event type, exact median + exact median
    // absolute deviation (the window-rank median formulation proven by
    // q_median_exact, applied twice), then count events beyond 3×MAD.
    // Every float op is either the proven decimal-sum average or ONE
    // IEEE subtraction/multiply of identically-derived doubles — same
    // bits on both engines. Two windowed passes + two slim aggregates,
    // all partitioned by event_type.
    "q_anomaly_mad" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"))
      val wn = Window.partitionBy("event_type")
      def median(df: DataFrame, c: String, scale: Int, as: String) = {
        val wv = Window.partitionBy("event_type")
          .orderBy(asc_nulls_last(c), asc_nulls_last("event_id"))
        df.withColumn("rn", row_number().over(wv))
          .withColumn("n", count(lit(1)).over(wn))
          .filter(col("rn") === floor((col("n") + 1) / 2)
            || col("rn") === floor((col("n") + 2) / 2))
          .groupBy("event_type")
          .agg((Det.dsum(col(c), scale) / count(lit(1))).as(as))
      }
      val med = median(ev, "value", 4, "med")
      // r14 (verdict item 8, guide §2.4): dev has TWO consumers — the
      // mad median rank and the final outlier flag — and the unpersisted
      // form re-ran the whole med window pass + events scan under each
      // (plan audit: 4 parquet scans, the med sort windows twice; AQE
      // reuses only the exchange BELOW the window). One within-query
      // scoped persist halves the windowed passes; same rows, identical
      // results (the q_anomaly_stl dev precedent).
      val dev = ev.join(med, "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
        .persistScoped()
      val mad = median(dev, "adev", 7, "mad")
      dev.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("adev") > col("mad") * 3, 1)).as("n_outliers"))
        .select("event_type", "n_events", "med", "mad", "n_outliers")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Event-type transition matrix (the first-order Markov statistic of
    // a workflow/event stream): per-user ordered lag pairs → exact
    // transition counts → p(next|prev) as ONE IEEE division of exact
    // integers (portable; see q_text_bigram_prob). One user_id window
    // shuffle + one (prev, next) aggregate with map-side partials; the
    // transition matrix itself is |types|² — tiny at any corpus size.
    "q_markov_transition" -> ((s, d) =>
      transitionMatrix(transitionPairs(t(s, d, "events")))),

    // Two-step transition matrix P² via Chapman–Kolmogorov — "where do
    // users land TWO actions from now?", the horizon the one-step
    // matrix (q_markov_transition) cannot answer when paths matter
    // (click→view→purchase vs click→purchase). Each path term is the
    // exact rational n_ij·n_jk/(r_i·r_j); terms quantize to the 1e-12
    // grid BEFORE the order-insensitive integer sum over mid-states
    // (the bhattacharyya ppm move — ≤|types| terms per cell, so the
    // quantization error is bounded by 5e-12 per entry), and p₂ is one
    // trailing division. Scale: the |types|² matrix is tiny at any
    // corpus size — the only data-sized work is the shared pair
    // extraction, one user-partitioned lag window.
    "q_markov_2step" -> ((s, d) => {
      val tm = transitionMatrix(transitionPairs(t(s, d, "events")))
        .select(col("prev_type"), col("next_type"), col("n"),
          col("n_prev"))
      val a = tm.select(col("prev_type").as("i"),
        col("next_type").as("j"), col("n").as("n_ij"),
        col("n_prev").as("r_i"))
      val b = tm.select(col("prev_type").as("j"),
        col("next_type").as("k"), col("n").as("n_jk"),
        col("n_prev").as("r_j"))
      a.join(b, "j")
        .withColumn("term", expr(
          "CAST(floor(CAST(n_ij AS DOUBLE) * CAST(n_jk AS DOUBLE) " +
            "/ (CAST(r_i AS DOUBLE) * CAST(r_j AS DOUBLE)) " +
            "* CAST(1000000000000 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .groupBy(col("i").as("prev_type"), col("k").as("next_type"))
        .agg(count(lit(1)).as("n_paths"), sum("term").as("q2"))
        .withColumn("p2", expr(
          "CAST(q2 AS DOUBLE) / CAST(1000000000000 AS DOUBLE)"))
        .select("prev_type", "next_type", "n_paths", "q2", "p2")
        .orderBy(asc_nulls_last("prev_type"),
          asc_nulls_last("next_type"))
    }),

    // Peak-concurrency timeline (sweep line over session intervals): 30-
    // minute-gap sessions per user (the q_path_per_session islands), each
    // emitting a +1 boundary at its start and a −1 at end+1µs; the
    // running sum of per-instant deltas IS the number of concurrently
    // open sessions. A naive global running sum would be one sequential
    // task, so the prefix sum is TWO-LEVEL: per-day partial sums get a
    // carry-in from a window over the (tiny, bounded) day totals, and the
    // within-day running sum is partitioned by day — the distributed
    // prefix-sum shape that holds at 100 TB. All integer arithmetic.
    "q_concurrency_peak" -> ((s, d) =>
      sweepLine(sessionIntervals(t(s, d, "events")))
        .orderBy(asc_nulls_last("tsu"))),

    // Trailing-hour velocity features: for EVERY event, the count and
    // exact-decimal value sum of the same user's events in the preceding
    // hour — a value-based RANGE frame over integer microseconds (the
    // rate-limiting / fraud-velocity feature shape). RANGE includes all
    // tie rows, so the result is independent of intra-tie order; one
    // user_id window shuffle, no self-join.
    "q_window_time_range" -> ((s, d) =>
      trailingHour(t(s, d, "events"))
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("tsu"),
          asc_nulls_last("event_id"))),

    // Daily resample + forward fill: per-user day spine over the user's
    // observed span, daily exact-decimal value sums, gaps carried forward
    // from the last observed day.
    "q_resample_ffill" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val daily = ev.groupBy("user_id", "day")
        .agg(Det.dsum(col("value")).as("dval"))
      val spine = ev.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled", last(col("dval"), ignoreNulls = true).over(w))
        .select("user_id", "day", "dval", "filled")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("day"))
    }),

    // Day-of-week × hour-of-day traffic profile — the seasonality
    // matrix behind capacity planning and anomaly baselines (a spike is
    // only a spike relative to its own weekday-hour cell). Day numbering
    // is pinned to ISO (Monday=1..Sunday=7): Spark's weekday()+1 equals
    // DuckDB's isodow, sidestepping the engines' different dayofweek
    // conventions. One hash aggregate into a ≤ 7×24 grid.
    "q_seasonal_profile" -> ((s, d) =>
      t(s, d, "events")
        .groupBy((expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("sum_value"))
        .orderBy(asc_nulls_last("dow"), asc_nulls_last("hod"))),

    // Audience-overlap matrix — user-set Jaccard between every pair of
    // event types: the segmentation readout behind "do buyers also
    // browse" and the de-dup factor for reach estimates. NEVER a
    // user×user or set×set scan: distinct (user, type) pairs wedge-join
    // on the shared user (the q_graph_jaccard shape — only type pairs
    // with ≥ 1 common user exist), |A∩B| is the wedge count, |A∪B|
    // comes from per-type distinct counts by inclusion-exclusion, and
    // the Jaccard is ONE IEEE division of exact integers. Scale: one
    // (user, type) distinct shuffle; wedge fan-out is bounded by the
    // per-user TYPE degree (≤ |event types|, a constant), and the
    // |types|²-bounded matrix joins its two count columns by broadcast.
    "q_audience_overlap" -> ((s, d) => {
      val ut = t(s, d, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .persistScoped() // three consumers: wedge (×2) + per-type sizes
      val sizes = broadcast(ut.groupBy("event_type")
        .agg(count(lit(1)).as("n_users")))
      val wedges = ut.select(col("user_id"), col("event_type").as("ta"))
        .join(ut.select(col("user_id"), col("event_type").as("tb")),
          "user_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_common"))
      wedges
        .join(sizes.select(col("event_type").as("ta"),
          col("n_users").as("users_a")), "ta")
        .join(sizes.select(col("event_type").as("tb"),
          col("n_users").as("users_b")), "tb")
        .withColumn("jac", col("n_common").cast("double")
          / (col("users_a") + col("users_b") - col("n_common")))
        .select("ta", "tb", "users_a", "users_b", "n_common", "jac")
        .orderBy(asc_nulls_last("ta"), asc_nulls_last("tb"))
    }),

    // Hour-of-day entropy per event type — the "bot vs human" diurnal
    // concentration readout: human-driven traffic spreads across waking
    // hours (entropy near log2(active hours)), cron/bot traffic
    // concentrates in a few slots (entropy → 0), and the gap per type
    // flags which event streams are synthetic. H = log2(N) −
    // (Σ c_h·log2(c_h))/N over the hour buckets, every log2 through the
    // bit-portable exponent+series path and every per-bucket term
    // quantized to the exact 1e-10 grid before the integer sum (the
    // q_text_entropy convention — a raw double Σ would be
    // partition-order-dependent). Scale: ONE keyed partial agg collapses
    // events to the ≤ |types|×24 grid; everything after runs on that
    // bounded frame.
    "q_event_entropy" -> ((s, d) =>
      entropyFrom(t(s, d, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("c")))
        .orderBy(asc_nulls_last("event_type"))),

    // Gini coefficient of per-user event counts — the activity-
    // concentration readout ("do 1% of users generate 90% of events?")
    // that decides whether per-user keys need salting and whether
    // engagement metrics are mean-representable. NEVER sorts users:
    // users collapse to a count-VALUE histogram (c, multiplicity m) and
    // the sorted-rank identity Σ_i i·x_i = Σ_values c·(m·r0 + m(m+1)/2)
    // (r0 = users with smaller counts) turns the Gini numerator
    // 2·Σi·x_i − (n+1)·Σx into exact DECIMAL(38,0) arithmetic on that
    // bounded frame. The >2^53-capable num/den ship VARCHAR-routed per
    // §7.4 plus ONE IEEE division. Scale: one user-keyed partial agg,
    // one histogram agg; the cumulative window is global but runs over
    // the count-VALUE domain (≤ max events/user rows — the q_stats_ks
    // bucket argument), never over users.
    "q_event_gini" -> ((s, d) => {
      val hist = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("m"))
      val w = Window.orderBy(asc_nulls_last("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("r0", sum(col("m")).over(w) - col("m"))
        .withColumn("g", expr(
          "CAST(c AS DECIMAL(38,0)) * (CAST(m AS DECIMAL(38,0)) " +
            "* CAST(r0 AS DECIMAL(38,0)) " +
            "+ CAST((m * (m + 1)) DIV 2 AS DECIMAL(38,0)))"))
        .agg(sum(col("m")).as("n_users"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))"))
            .as("tot"),
          sum(col("g")).as("six"))
        .select(col("n_users"),
          col("tot").cast("long").as("n_events"),
          expr("CAST(2 * six - (CAST(n_users AS DECIMAL(38,0)) + 1) " +
            "* tot AS STRING)").as("gini_num_str"),
          expr("CAST(CAST(n_users AS DECIMAL(38,0)) * tot AS STRING)")
            .as("gini_den_str"),
          (expr("CAST(2 * six - (CAST(n_users AS DECIMAL(38,0)) + 1) " +
            "* tot AS DOUBLE)")
            / expr("CAST(CAST(n_users AS DECIMAL(38,0)) * tot " +
              "AS DOUBLE)")).as("gini"))
    }),

    // Mann–Kendall trend test per event type over the daily value-sum
    // series — the nonparametric "is this metric actually drifting"
    // gate (Mann 1945, Kendall 1975): S = Σ_{i<j} sign(y_j − y_i)
    // counts concordant minus discordant day pairs, so it sees
    // monotone drift through noise and outliers that wreck a linear
    // fit. Exact arithmetic end-to-end: daily sums are decimals, the
    // sign comparisons are decimal-exact, S and the no-ties variance
    // scale n(n−1)(2n+5) are integers, and the reported trend_score =
    // sign(S)·18·S²/(n(n−1)(2n+5)) (the signed square of the normal
    // approximation's z, ties correction omitted — a documented upper
    // bound on |z|) is ONE IEEE division. Scale: events collapse to
    // the per-type day grid in one keyed partial agg; the pair join is
    // an equi-join of that day-domain-bounded frame against itself on
    // event_type (the q_ts_autocorr argument) — never over raw events.
    "q_ts_mann_kendall" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Det.exactSum(col("value")).as("yd"))
      val sgn = daily
        .join(daily.select(col("event_type"), col("day").as("day2"),
          col("yd").as("yd2")), Seq("event_type"))
        .filter(col("day") < col("day2"))
        .groupBy("event_type")
        .agg(sum(when(col("yd2") > col("yd"), 1L)
          .when(col("yd2") < col("yd"), -1L).otherwise(0L)).as("s_stat"))
      daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
        .join(sgn, "event_type")
        .withColumn("var_s_x18",
          col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5))
        .withColumn("trend_score",
          (lit(18L) * col("s_stat") * abs(col("s_stat"))).cast("double")
            / col("var_s_x18").cast("double"))
        .select("event_type", "n_days", "s_stat", "var_s_x18",
          "trend_score")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Theil–Sen robust trend slope per event_type — the ESTIMATOR that
    // pairs with q_ts_mann_kendall's TEST (Sen 1968: the median of all
    // pairwise day slopes; up to ~29% outlier days cannot move it,
    // unlike the OLS slope in q_stats_regression). Exactness: day sums
    // are exact decimals (the MK grid), each pair's slope is the exact
    // rational (yd₂−yd₁)/Δdays, and the MEDIAN selection is the house
    // two-middle-row row_number idiom ordered by (slope-double, num,
    // den) — the doubles are identical on both engines because the
    // operands are identical exact integers (DuckDB's decimal→double
    // routes through VARCHAR per the sqlDsum rule), so the order and
    // the selected rows match exactly; the reported slope is ONE fixed
    // IEEE expression over the two middle rationals. Scale: the
    // pairwise self-join is day-grain per type (the MK argument —
    // O(days²) slim rows, never events²), the rank window is
    // event_type-PARTITIONED, and the medians join back by type.
    "q_ts_theil_sen" -> ((s, d) =>
      theilSenFrom(theilSenDaily(t(s, d, "events")))),

    // STL-lite daily decomposition — trend / weekly-seasonal / residual
    // split of the daily value series, the readout behind "is today's
    // dip real or just a Sunday": trend is the centered 7-day moving
    // average, the seasonal component the per-ISO-dow mean of the
    // detrended interior days, the residual what anomaly gates should
    // alarm on. All sums are exact decimals on the day grid (7·y − t7
    // stays exact — no division before the final per-cell IEEE ops),
    // dow pinned to ISO like q_seasonal_profile. Scale: events collapse
    // to day grain in ONE keyed partial agg; everything after runs on
    // day-domain-bounded frames (the centered window is global but over
    // one-row-per-calendar-day input — the q_ts_cusum allowlist
    // argument — and the 7-row dow frame joins back by broadcast).
    "q_ts_decompose" -> ((s, d) =>
      decomposeFrom(dailyPoints(t(s, d, "events")))
        .orderBy(asc_nulls_last("day"))),

    // Robust anomaly gate over the STL residuals — the alarm a daily
    // monitor should actually fire on: a day is anomalous when its
    // residual (what's left after trend AND weekly seasonality) sits
    // more than 3 MADs from the residual median, so a busy-but-normal
    // Monday never pages anyone. Reuses the q_anomaly_mad median idiom
    // (two-middle-row row_number selection, exact-decimal mean of the
    // pair) on the GLOBAL day series. Scale: everything below the one
    // event→day collapse runs on day-domain-bounded frames — the two
    // persisted frames and both global rank windows hold ≤ one row per
    // calendar day regardless of corpus size; the scalar med/mad/count
    // frames broadcast on a constant key (the q_text_docfreq shape).
    "q_anomaly_stl" -> ((s, d) => {
      val dec = decomposeFrom(dailyPoints(t(s, d, "events")))
        .filter(col("resid").isNotNull)
        .select("day", "resid")
        .persistScoped() // day-grain; three consumers (rank, count, dev)
      def gmedian(df: DataFrame, c: String, as: String) = {
        val wv = Window.orderBy(asc_nulls_last(c), asc_nulls_last("day"))
        val n = broadcast(df.agg(count(lit(1)).as("n"))
          .withColumn("_one", lit(1)))
        df.withColumn("rn", row_number().over(wv))
          .withColumn("_one", lit(1)).join(n, "_one")
          .filter(col("rn") === floor((col("n") + 1) / 2)
            || col("rn") === floor((col("n") + 2) / 2))
          .agg((Det.dsum(col(c), 7) / count(lit(1))).as(as))
          .withColumn("_one", lit(1))
      }
      val dev = dec.withColumn("_one", lit(1))
        .join(broadcast(gmedian(dec, "resid", "med")), "_one")
        .withColumn("adev", abs(col("resid") - col("med")))
        .persistScoped() // day-grain; two consumers (mad rank + final flag)
      dev.join(broadcast(gmedian(dev, "adev", "mad")), "_one")
        .withColumn("is_anomaly", col("adev") > col("mad") * 3)
        .select("day", "resid", "med", "mad", "adev", "is_anomaly")
        .orderBy(asc_nulls_last("day"))
    }),

    // Per-user inter-arrival gap statistics — the traffic-shape panel
    // (burstiness, dormancy, bot cadence) behind rate limits and session
    // gap tuning. Gaps are exact integer µs from one lag window; count,
    // min, max and sum stay integers and the mean is ONE IEEE division —
    // nothing to decimal-route. One user_id shuffle.
    "q_gap_stats" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"))
        .withColumn("gap", col("tsu") - lag("tsu", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap").as("min_gap_us"),
          max("gap").as("max_gap_us"),
          sum("gap").as("sum_gap_us"))
        .withColumn("mean_gap_us",
          col("sum_gap_us").cast("double") / col("n_gaps"))
        .orderBy(asc_nulls_last("user_id"))
    }),

    // Rolling exact median of each user's trailing 5 values — the robust
    // smoother time-series pipelines use where a rolling MEAN chases
    // spikes (and where q_anomaly_mad needs its center). No built-in
    // windows a median, so the bounded ROWS frame collects its ≤ 5
    // values in-row and SELECTS the lower median after an in-row sort —
    // pure element selection, zero arithmetic, so determinism needs no
    // decimal routing (both engines sort the same IEEE doubles). Scale:
    // one user-keyed window shuffle; state per row is the constant-size
    // frame, never the user's history.
    "q_window_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
        .rowsBetween(-4, Window.currentRow)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"), col("value"))
        .withColumn("vals", collect_list(col("value")).over(w))
        .select(col("user_id"), col("event_id"), col("tsu"),
          size(col("vals")).cast("long").as("n_window"),
          expr("element_at(sort_array(vals), " +
            "CAST((size(vals) + 1) DIV 2 AS INT))").as("roll_med"))
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("tsu"),
          asc_nulls_last("event_id"))
    }),

    // Hampel filter over the same 5-event frame — the ROBUST outlier
    // flag a cleaning pipeline runs where a z-score would let one spike
    // poison its own mean/σ (masking): flag |x − med| > 3·1.4826·MAD,
    // with both the median and the MAD read from the frame's own
    // sorted lists (the rolling-median idiom twice — the deviations
    // list is a higher-order transform, no second window). Every
    // compared quantity is either a data value, an exact difference of
    // two data values, or that times the shared 3·1.4826 literal tree —
    // no accumulation anywhere, so doubles are safe. Scale: ONE
    // user-partitioned window, frames bounded at 5 rows.
    "q_window_hampel" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
        .rowsBetween(-4, Window.currentRow)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"), col("value"))
        .withColumn("vals", collect_list(col("value")).over(w))
        .withColumn("med", expr("element_at(sort_array(vals), " +
          "CAST((size(vals) + 1) DIV 2 AS INT))"))
        .withColumn("mad", expr(
          "element_at(sort_array(transform(vals, v -> abs(v - med))), " +
            "CAST((size(vals) + 1) DIV 2 AS INT))"))
        .withColumn("is_outlier",
          expr("abs(value - med) > 3.0 * 1.4826 * mad"))
        .select("user_id", "event_id", "tsu", "med", "mad",
          "is_outlier")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("tsu"),
          asc_nulls_last("event_id"))
    }),

    // Trailing-7-day distinct users per active day (the rolling-DAU/WAU
    // panel) — see [[rollingDistinct]]; streaming twin:
    // [[graft.streaming.StatefulTwins.rollingDistinctStream]].
    "q_rolling_distinct" -> ((s, d) =>
      rollingDistinct(t(s, d, "events"))
        .orderBy(asc_nulls_last("day"))),

    // Autocorrelation function of the daily traffic series at lags 1–7 —
    // the periodicity detector behind seasonality-aware anomaly baselines
    // (a 7-day peak says "weekly cycle", near-zero everywhere says white
    // noise). Estimator: the standard biased ACF with the full-series
    // mean, computed entirely in scaled INTEGERS — centering multiplies
    // through by n (cx = x·n − S, exact BIGINT), so numerator and
    // denominator are exact integer sums and the single final division
    // is the only IEEE op: bit-identical on both engines, no decimal
    // routing needed. (BIGINT headroom at sf0.1: cx ≤ 2×10⁶ so
    // Σcx² ≤ 10¹⁴; a 100 TB corpus moves cx to DECIMAL(38,0)
    // unchanged.) Scale: one day-grain shuffle builds the series; the
    // lag pairs are an equi-join of the TINY day-grain frame against
    // itself on a date key (never a window over the raw events), and the
    // series mean is a 1-row broadcast on a constant key.
    "q_ts_autocorr" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx")).withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("day"), (col("x") * col("nd") - col("sx")).as("cx"))
      val den = broadcast(cent.agg(sum(col("cx") * col("cx")).as("den"))
        .withColumn("_one", lit(1)))
      cent
        .select(col("day"), col("cx"),
          explode(expr("sequence(1, 7)")).as("lag"))
        .withColumn("day2", expr("date_add(day, lag)"))
        .join(cent.select(col("day").as("day2"), col("cx").as("cy")),
          "day2")
        .groupBy(col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cx") * col("cy")).as("num"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .select(col("lag"), col("n_pairs"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("acf"))
        .orderBy(asc_nulls_last("lag"))
    }),

    // Durbin–Watson first-order autocorrelation statistic (Durbin &
    // Watson 1950) per event_type over the mean-centered daily value
    // series — the residual-independence check that belongs next to
    // q_stats_regression: d ≈ 2 means yesterday tells you nothing about
    // today's residual, d → 0 positive drift (the series is trending
    // and the iid error model is wrong), d → 4 alternation. DW is
    // scale-invariant, so the centered residual is kept on the exact
    // integer grid: r_t = (s_t·n − S)·10⁴ (daily sums are exact
    // DECIMAL(18,4); the ·n cross-multiplication replaces the mean
    // subtraction — no division anywhere), successive differences come
    // from ONE event_type-partitioned lag window over the day-grain
    // frame (bounded by the date DOMAIN, never the event count), and
    // both quadratic forms accumulate in DECIMAL(38,0)/HUGEINT
    // (VARCHAR-routed past 2^53). The statistic is the single trailing
    // IEEE division. Scale: one keyed day-grain shuffle with map-side
    // combine; the per-type totals broadcast back.
    "q_stats_durbin_watson" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Det.exactSum(col("value")).as("sv"))
      val tot = broadcast(daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("sv").as("stot")))
      val w = Window.partitionBy("event_type").orderBy("day")
      // scale each operand to its exact 10⁴ integer BEFORE the ·nd
      // cross-multiplication: DuckDB decimal multiplication caps the
      // combined width at 38, so (sum·nd − S)·10⁴ would not typecheck
      // there — (sv·10⁴)·nd − (S·10⁴) is value-identical and stays
      // inside both engines' integer domains
      daily.join(tot, "event_type")
        .withColumn("svi", expr(
          s"CAST(CAST(sv AS DECIMAL(18,4)) * 10000 AS $dec)"))
        .withColumn("sti", expr(
          s"CAST(CAST(stot AS DECIMAL(18,4)) * 10000 AS $dec)"))
        .withColumn("rr", expr("svi * nd - sti"))
        .withColumn("rlag", lag(col("rr"), 1).over(w))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"),
          sum(expr(s"CAST(rr AS $dec) * CAST(rr AS $dec)")).as("den"),
          sum(expr(s"CAST(CASE WHEN rlag IS NULL THEN 0 ELSE " +
            s"(rr - rlag) * (rr - rlag) END AS $dec)")).as("num"))
        .withColumn("dw_stat",
          expr("CAST(CAST(num AS STRING) AS DOUBLE) " +
            "/ CAST(CAST(den AS STRING) AS DOUBLE)"))
        .select("event_type", "n_days", "dw_stat")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Ljung–Box portmanteau test (Ljung & Box 1978) over the daily
    // event-count series, lags 1..7 — "is there ANY autocorrelation
    // left?" asked as one number instead of q_ts_autocorr's per-lag
    // readout: Q = n(n+2)·Σ_k r_k²/(n−k). Exactness: r_k² = num_k²/den²
    // on the autocorr integer grid (cx = x·n − S), and the k-varying
    // denominators fold into ONE common denominator den²·P with
    // P = Π_{j=1..7}(n−j): each lag contributes num_k²·P_k where
    // P_k = Π_{j≠k}(n−j) — exactly P/(n−k), but computed as the
    // 6-factor exclusion PRODUCT (lbExcl below), never a division —
    // accumulated in DECIMAL(38,0)/HUGEINT, so Q is a single trailing
    // IEEE division of two exact integers (≈4e31/1e29 at sf0.1).
    // Every factor is cast wide BEFORE multiplying (r10 ADVICE: the
    // old BIGINT P ≈ n⁷ wrapped past n ≈ 510 daily points, ~1.4
    // years — NOT the ~10-year headroom once claimed here); the exact
    // window is now bounded by num_k²·P_k < 1e38, ~decades of daily
    // data, past which BOTH engines fail loudly (Spark ANSI decimal
    // overflow, DuckDB HUGEINT error) instead of diverging. Scale:
    // the autocorr economics verbatim — one day-grain shuffle, lag
    // pairs as an equi-join of the tiny day-grain frame against
    // itself, totals as 1-row broadcasts.
    "q_ts_ljung_box" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx")).withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("day"), col("nd"),
          (col("x") * col("nd") - col("sx")).as("cx"))
      val den = broadcast(cent.agg(max("nd").as("nd"),
        sum(col("cx") * col("cx")).as("den"))
        .withColumn("_one", lit(1)).select("_one", "den"))
      cent
        .select(col("day"), col("nd"), col("cx"),
          explode(expr("sequence(1, 7)")).as("lag"))
        .withColumn("day2", expr("date_add(day, lag)"))
        .join(cent.select(col("day").as("day2"), col("cx").as("cy")),
          "day2")
        .groupBy(col("lag").cast("long").as("lag"), col("nd"))
        .agg(sum(col("cx") * col("cy")).as("num"))
        .withColumn("p_all", expr(lbFull(dec)))
        .withColumn("contrib", expr(
          s"CAST(num AS $dec) * CAST(num AS $dec) " +
            s"* CAST(${lbExcl(dec)} AS $dec)"))
        .groupBy("nd", "p_all")
        .agg(count(lit(1)).as("n_lags"), sum("contrib").as("s_sum"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .withColumn("q_stat", expr(
          s"CAST(CAST(CAST(nd AS $dec) * CAST(nd + 2 AS $dec) " +
            s"* CAST(s_sum AS $dec) AS STRING) AS DOUBLE) " +
            s"/ CAST(CAST(CAST(den AS $dec) * CAST(den AS $dec) " +
            s"* CAST(p_all AS $dec) AS STRING) AS DOUBLE)"))
        .select(col("nd").as("n_days"), col("n_lags"), col("q_stat"))
    }),

    // Partial autocorrelation, lags 1–3, via the Durbin–Levinson
    // recursion (Durbin 1960) over the SAME exact integer ACF grid as
    // q_ts_autocorr — the AR-order fingerprint: an AR(p) series cuts
    // off after lag p in PACF while raw ACF tails forever, so this is
    // what picks the model order q_ts_autocorr alone cannot. The three
    // lag numerators land in ONE row via conditional aggregation
    // (no pivot shuffle), r_k = num_k/den are the first IEEE ops, and
    // φ22/φ33 are fixed double trees of the recursion written with
    // identical text on both engines. Scale: autocorr economics —
    // day-grain series, self-equi-join on a date key, 1-row broadcasts.
    "q_ts_pacf" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx")).withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("day"), col("nd"),
          (col("x") * col("nd") - col("sx")).as("cx"))
      val den = broadcast(cent.agg(max("nd").as("n_days"),
        sum(col("cx") * col("cx")).as("den"))
        .withColumn("_one", lit(1)))
      cent
        .select(col("day"), col("cx"),
          explode(expr("sequence(1, 3)")).as("lag"))
        .withColumn("day2", expr("date_add(day, lag)"))
        .join(cent.select(col("day").as("day2"), col("cx").as("cy")),
          "day2")
        .agg(sum(when(col("lag") === 1, col("cx") * col("cy"))
            .otherwise(0L)).as("num1"),
          sum(when(col("lag") === 2, col("cx") * col("cy"))
            .otherwise(0L)).as("num2"),
          sum(when(col("lag") === 3, col("cx") * col("cy"))
            .otherwise(0L)).as("num3"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .withColumn("r1", expr(
          "CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE)"))
        .withColumn("r2", expr(
          "CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE)"))
        .withColumn("r3", expr(
          "CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE)"))
        .withColumn("pacf1", col("r1"))
        .withColumn("pacf2", expr(
          "(r2 - r1 * r1) / (1.0 - r1 * r1)"))
        .withColumn("phi21", expr("r1 - pacf2 * r1"))
        .withColumn("pacf3", expr(
          "(r3 - phi21 * r2 - pacf2 * r1) " +
            "/ (1.0 - phi21 * r1 - pacf2 * r2)"))
        .select("n_days", "r1", "r2", "r3", "pacf1", "pacf2", "pacf3")
    }),

    // Correlogram with significance bands — q_ts_autocorr's per-lag
    // ACF promoted to the decision readout an analyst actually uses:
    // each lag carries the ±1.96/√n white-noise band and a significant
    // flag, so "is there structure at lag k?" is answered per row
    // instead of eyeballed. The ACF pieces are the exact integer grid
    // verbatim; the band is one fixed tree (1.96/sqrt(nd)) and the
    // flag compares the same two doubles both engines computed.
    // Scale: the autocorr economics unchanged.
    "q_ts_acf_bands" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx")).withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("day"), col("nd"),
          (col("x") * col("nd") - col("sx")).as("cx"))
      val den = broadcast(cent.agg(sum(col("cx") * col("cx")).as("den"))
        .withColumn("_one", lit(1)))
      cent
        .select(col("day"), col("nd"), col("cx"),
          explode(expr("sequence(1, 7)")).as("lag"))
        .withColumn("day2", expr("date_add(day, lag)"))
        .join(cent.select(col("day").as("day2"), col("cx").as("cy")),
          "day2")
        .groupBy(col("lag").cast("long").as("lag"), col("nd"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cx") * col("cy")).as("num"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .withColumn("acf", expr(
          "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"))
        .withColumn("band", expr("1.96 / sqrt(CAST(nd AS DOUBLE))"))
        .withColumn("significant", expr("abs(acf) > band"))
        .select(col("lag"), col("n_pairs"), col("acf"), col("band"),
          col("significant"))
        .orderBy(asc_nulls_last("lag"))
    }),

    // Maximum drawdown of the cumulative daily value per event_type —
    // the worst peak-to-trough fall of the running total, the
    // risk/health readout ops dashboards borrow from finance ("how bad
    // did the worst losing streak get?"); value here can only add, so
    // the series is made signed by centering each day against the
    // type's mean day (sv·n − S — the DW residual grid), making
    // drawdown a real streak measure. Everything is exact DECIMAL:
    // cumulative and running-max come from TWO type-partitioned
    // day-grain windows (bounded by the calendar, the cusum argument —
    // but PARTITIONED here, so not even the day-grain frame is
    // global), the per-day drawdown is an exact subtraction, and the
    // final max is a keyed agg. ONE trailing VARCHAR-routed cast
    // renders the exact result as the double readout.
    "q_ts_max_drawdown" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(Det.exactSum(col("value")).as("sv"))
      val tot = broadcast(daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("sv").as("stot")))
      val wCum = Window.partitionBy("event_type")
        .orderBy(asc_nulls_last("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(tot, "event_type")
        .withColumn("svi", expr(
          "CAST(CAST(sv AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))"))
        .withColumn("sti", expr(
          "CAST(CAST(stot AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))"))
        .withColumn("rr", expr("svi * nd - sti"))
        .withColumn("cum", sum("rr").over(wCum))
        .withColumn("peak", max("cum").over(wCum))
        .withColumn("dd", expr("peak - cum"))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"), max("dd").as("max_dd_x"))
        // un-scale the 10⁴ quantum AND the ·nd centering factor so the
        // readout is in ORIGINAL value units per type
        .withColumn("max_drawdown", expr(
          "CAST(CAST(max_dd_x AS STRING) AS DOUBLE) " +
            "/ (CAST(10000 AS DOUBLE) * CAST(n_days AS DOUBLE))"))
        .select("event_type", "n_days", "max_drawdown")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Inter-arrival-time profile per event_type — the EVENT-grain
    // burstiness measure next to q_ts_fano's day-grain one: a Poisson
    // stream has gap cv² = 1, clumped traffic (campaign spikes, bot
    // storms, retry bursts) cv² ≫ 1, a scheduler cv² ≈ 0 — and unlike
    // Fano it sees sub-day structure. Gaps come from ONE
    // type-partitioned lag window over (tsu, event_id)-ordered micros
    // (the spearman partitioning); Σg is BIGINT, Σg² accumulates in
    // DECIMAL(38,0)/HUGEINT (a month-long gap squares past 2^63), and
    // both readouts are single divisions of exact integers:
    // mean = Σg/n, cv² = (nΣg² − (Σg)²)/(Σg)².
    "q_event_interarrival" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val w = Window.partitionBy("event_type")
        .orderBy(asc_nulls_last("tsu"), asc_nulls_last("event_id"))
      t(s, d, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("tsu"))
        .withColumn("gap", col("tsu") - lag("tsu", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum("gap").as("sg"),
          sum(expr(s"CAST(gap AS $dec) * CAST(gap AS $dec)")).as("sgg"))
        .withColumn("mean_gap_us", expr(
          "CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)"))
        .withColumn("cv2", expr(
          s"CAST(CAST(CAST(n_gaps AS $dec) * sgg " +
            s"- CAST(sg AS $dec) * CAST(sg AS $dec) AS STRING) " +
            "AS DOUBLE) / CAST(CAST(CAST(sg AS " + dec + ") " +
            "* CAST(sg AS " + dec + ") AS STRING) AS DOUBLE)"))
        .select("event_type", "n_gaps", "sg", "mean_gap_us", "cv2")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Turning-point randomness test per event_type over the daily count
    // series (Kendall's classic: in an iid sequence a strict local
    // max/min occurs at 2/3 of interior points; E[T] = 2(n−2)/3,
    // Var[T] = (16n−29)/90) — the cheap "is this series just noise?"
    // screen next to q_stats_runs' level-based one. Triples come from
    // TWO calendar-day equi-joins of the day-grain frame against itself
    // (day−1, day+1 — the autocorr join economics, no window); only
    // days with both calendar neighbors present form a triple, ties are
    // not turning points (strict inequalities). The z numerator 3T −
    // 2(n_triples) stays integer; one sqrt+divide of exact pieces
    // ((16n−29)/10 = (3σ)² folds the /90 into the doubled numerator).
    "q_ts_turning_points" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val trip = daily
        .join(daily.select(col("event_type"),
          expr("date_add(day, 1)").as("day"), col("x").as("xp")),
          Seq("event_type", "day"))
        .join(daily.select(col("event_type"),
          expr("date_add(day, -1)").as("day"), col("x").as("xn")),
          Seq("event_type", "day"))
      trip.groupBy("event_type")
        .agg(count(lit(1)).as("n_triples"),
          sum(when((col("xp") < col("x") && col("xn") < col("x"))
            || (col("xp") > col("x") && col("xn") > col("x")), 1L)
            .otherwise(0L)).as("turning"))
        .withColumn("z_stat", expr(
          "CAST(3 * turning - 2 * n_triples AS DOUBLE) " +
            "/ sqrt(CAST(16 * (n_triples + 2) - 29 AS DOUBLE) / 10.0)"))
        .select("event_type", "n_triples", "turning", "z_stat")
        .orderBy(asc_nulls_last("event_type"))
    }),

    // Exact periodogram at periods {2,3,4,6} days over the centered
    // daily count series — the cadence detector ("does traffic pulse on
    // a 2/3/4/6-day cycle?") built so EVERY spectral coefficient stays
    // on the integer grid: at these periods 2·cos(2πt/p) is an exact
    // integer and 2·sin(2πt/p) is an integer times √3 (p ∈ {3,6}) or an
    // integer (p ∈ {2,4}), so 4·|DFT|² = (Σcx·c₂)² + k·(Σcx·s₂)² with
    // k ∈ {1,3} is exact DECIMAL(38,0)/HUGEINT arithmetic end-to-end —
    // no trig function evaluation to disagree across libms (the reason
    // arbitrary periods are NOT offered; period 7 needs cos(2π/7)).
    // t is the CALENDAR day index (datediff from the min day — gaps
    // contribute zero, no row_number window), and the single IEEE op is
    // the final normalization against the series energy. Scale: the
    // autocorr economics — day-grain keyed agg, 1-row broadcasts, a
    // 4-way explode of the bounded day frame.
    "q_ts_periodogram" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx"), min("day").as("d0"))
        .withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("nd"),
          (col("x") * col("nd") - col("sx")).as("cx"),
          datediff(col("day"), col("d0")).cast("long").as("tt"))
      val den = broadcast(cent.agg(sum(col("cx") * col("cx")).as("den"))
        .withColumn("_one", lit(1)))
      cent
        .select(col("nd"), col("cx"), col("tt"),
          explode(expr("array(2L, 3L, 4L, 6L)")).as("period"))
        .withColumn("m", expr("tt % period"))
        .withColumn("c2", expr(
          "CASE WHEN period = 2 THEN " +
            "(CASE WHEN m = 0 THEN 2 ELSE -2 END) " +
            "WHEN period = 3 THEN " +
            "(CASE WHEN m = 0 THEN 2 ELSE -1 END) " +
            "WHEN period = 4 THEN " +
            "(CASE WHEN m = 0 THEN 2 WHEN m = 2 THEN -2 ELSE 0 END) " +
            "ELSE (CASE WHEN m = 0 THEN 2 WHEN m = 3 THEN -2 " +
            "WHEN m = 1 OR m = 5 THEN 1 ELSE -1 END) END"))
        .withColumn("s2", expr(
          "CASE WHEN period = 2 THEN 0 " +
            "WHEN period = 3 THEN " +
            "(CASE WHEN m = 0 THEN 0 WHEN m = 1 THEN 1 ELSE -1 END) " +
            "WHEN period = 4 THEN " +
            "(CASE WHEN m = 1 THEN 2 WHEN m = 3 THEN -2 ELSE 0 END) " +
            "ELSE (CASE WHEN m = 0 OR m = 3 THEN 0 " +
            "WHEN m = 1 OR m = 2 THEN 1 ELSE -1 END) END"))
        .groupBy("period")
        .agg(max("nd").as("n_days"),
          sum(col("cx") * col("c2")).as("ca"),
          sum(col("cx") * col("s2")).as("sa"))
        .withColumn("power4", expr(
          s"CAST(ca AS $dec) * CAST(ca AS $dec) " +
            "+ CAST(CASE WHEN period = 3 OR period = 6 " +
            s"THEN 3 ELSE 1 END AS $dec) " +
            s"* CAST(sa AS $dec) * CAST(sa AS $dec)"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .withColumn("score", expr(
          "CAST(CAST(power4 AS STRING) AS DOUBLE) " +
            "/ CAST(CAST(den AS STRING) AS DOUBLE)"))
        .select(col("period"), col("n_days"),
          col("power4").cast("string").as("power4"), col("score"))
        .orderBy(asc_nulls_last("period"))
    }),

    // Fano factor (index of dispersion) per event type over the daily
    // count series — the burstiness triage: F ≈ 1 is Poisson (a
    // memoryless arrival process, safe to model with rates), F ≫ 1 is
    // bursty/clumped traffic (campaign spikes, bot storms — rate
    // alarms will flap), F < 1 is more-regular-than-random (scheduled
    // jobs). F = Var/Mean = (n·Σx² − S²)/(n·S) — exact integers with
    // ONE trailing IEEE division (the n² in Var and the 1/n in Mean
    // partially cancel, so no intermediate division exists). Scale:
    // one keyed day-grain partial agg; the per-type moments are a
    // second slim aggregate. The moments live in DECIMAL(38,0) (r12
    // overflow sweep: the old BIGINT n·Σx² wrapped past ~10⁶
    // events/day·type over 10 years — two orders BELOW a 100 TB
    // deployment's daily volume); wide values route to DOUBLE via
    // VARCHAR, the engine-portable convention.
    "q_ts_fano" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("x").as("n_events"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("sxx"))
        .withColumn("vn", expr(
          "n_days * sxx - CAST(n_events AS DECIMAL(38,0)) " +
            "* CAST(n_events AS DECIMAL(38,0))"))
        .selectExpr("event_type", "n_days", "n_events",
          "CAST(CAST(vn AS STRING) AS DOUBLE) AS var_num",
          "CAST(CAST(vn AS STRING) AS DOUBLE) " +
            "/ CAST(CAST(CAST(CAST(n_days AS DECIMAL(38,0)) " +
            "* CAST(n_events AS DECIMAL(38,0)) AS STRING) AS DOUBLE) " +
            "AS DOUBLE) AS fano")
        .orderBy(asc_nulls_last("event_type"))),

    // Hurst exponent via rescaled-range analysis (Hurst 1951; the R/S
    // method of Mandelbrot & Wallis 1969) over the daily count series —
    // the long-memory readout that separates mean-reverting (H < 0.5),
    // random-walk (H ≈ 0.5), and trending/persistent (H > 0.5) traffic,
    // deciding how far history helps a forecast. SPAN-ADAPTIVE window
    // bank (r11 verdict item #4): w ∈ {4, 8, …, 2^M} with
    // M = max(4, ⌊log2(n_days/2)⌋) derived ONCE from the measured day
    // count as a driver literal (the q_join_bloom precedent; ⌊log2⌋ is
    // an integer bit-length on both engines), so a production span
    // extends the bank upward automatically — the regression uses the
    // whole series instead of the 30-day fixture's {4,8,16}. Exactness:
    // the series re-indexes by a day-grain row_number; each ⌊n/w⌋ full
    // window keeps EVERYTHING integer by the w-scaling trick —
    // w·Y_j = w·cumsum_j − (j+1)·S_w (cumulative deviation without the
    // mean division) and S_std·w = √(w·Σx² − S_w²), so R/S =
    // range(w·Y)/√(w·Σx²−S_w²) is ONE sqrt+divide of exact integers
    // per window (the implicit Y₀ = 0 enters via greatest/least
    // against 0; zero-variance windows are excluded by convention).
    // Per-window R/S quantizes to the 1e-10 grid before the
    // order-insensitive integer mean; per-w log2(R/S) is a portable-
    // log2 chain whose result ALSO quantizes to the 1e-10 grid, so the
    // bank-wide least-squares moments are INTEGER sums (B, Σi, Σi²,
    // ΣqL, Σi·qL with i = log2 w exact) and the generic slope
    // H = (B·Σi·qL − Σi·ΣqL)/(B·Σi² − (Σi)²)/1e10 is one fixed IEEE
    // tree — for the 3-point fixture bank it equals the old
    // (L₁₆−L₄)/2 endpoint form analytically. Scale: day-grain frame
    // throughout — one global re-index window bounded by the time
    // span, then (w, window)-keyed partitioned windows and aggs; the
    // bank has ≤ ⌊log2 span⌋ members, so the explode factor grows
    // logarithmically with the span.
    "q_ts_hurst" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val nDays = daily.count()
      val mMax = math.max(4,
        63 - java.lang.Long.numberOfLeadingZeros(nDays / 2L))
      val bank = (2 to mMax).map(i => 1L << i)
      val wIdx = Window.orderBy(asc_nulls_last("day"))
      val idx = daily
        .withColumn("idx", row_number().over(wIdx).cast("long") - 1L)
      val ws = idx.select(col("idx"), col("x"),
          explode(expr(bank.mkString("array(", "L, ", "L)"))).as("w"))
        .withColumn("widx", expr("idx div w"))
        .withColumn("j", expr("idx % w"))
      val wc = Window.partitionBy("w", "widx")
        .orderBy(asc_nulls_last("j"))
      val cum = ws.withColumn("cx", sum(col("x")).over(wc))
      // x² and the w·Σx² − S² variance live in DECIMAL(38,0) (r12
      // overflow sweep: a 100 TB day sees ~1e9+ events, so x² brushes
      // 2⁶³ and S_w² crosses it); the wide value routes to DOUBLE via
      // VARCHAR (the engine-portable decimal→double convention). wy
      // stays BIGINT: |wy| ≤ w·S_w ≤ 128·window-events — 2⁶³ needs an
      // 7e16-event window, three orders past the x² wrap point.
      val tot = ws.groupBy("w", "widx")
        .agg(count(lit(1)).as("cnt"), sum("x").as("sw"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("sxx"))
      val rs = cum.join(tot, Seq("w", "widx"))
        .filter(col("cnt") === col("w")
          && expr("cnt * sxx - CAST(sw AS DECIMAL(38,0)) " +
            "* CAST(sw AS DECIMAL(38,0))") > 0L)
        .withColumn("wy", expr("w * cx - (j + 1) * sw"))
        .groupBy("w", "widx")
        .agg(max("wy").as("maxy"), min("wy").as("miny"),
          max("sw").as("swx"), max("sxx").as("sxxx"),
          max("cnt").as("cnt"))
        .withColumn("rsv", expr(
          "CAST(greatest(maxy, CAST(0 AS BIGINT)) " +
            "- least(miny, CAST(0 AS BIGINT)) AS DOUBLE) " +
            "/ sqrt(CAST(CAST(cnt * sxxx - CAST(swx AS DECIMAL(38,0)) " +
            "* CAST(swx AS DECIMAL(38,0)) AS STRING) AS DOUBLE))"))
        .withColumn("qrs", expr(
          "CAST(floor(rsv * CAST(10000000000 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .groupBy("w")
        .agg(count(lit(1)).as("nw"), sum("qrs").as("sq"))
        .withColumn("qm", expr(
          "CAST(floor(CAST(sq AS DOUBLE) / CAST(nw AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      val lg = graft.Det.withPlog2(rs, "qm", "l2")
        .withColumn("i", expr("CAST(length(bin(w)) - 1 AS BIGINT)"))
        .withColumn("ql", expr(
          "CAST(floor(l2 * CAST(10000000000 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      lg.groupBy()
        .agg(count(lit(1)).as("n_bank"), max("w").as("w_max"),
          sum("i").as("si"), sum(expr("i * i")).as("sii"),
          sum("ql").as("sl"), sum(expr("i * ql")).as("sil"),
          expr("min_by(qm, w)").as("qm_min"),
          expr("max_by(qm, w)").as("qm_max"),
          sum("nw").as("nw_total"))
        .select(lit(nDays).as("n_days"), col("n_bank"), col("w_max"),
          col("nw_total"),
          expr("CAST(qm_min AS DOUBLE) / CAST(10000000000 AS DOUBLE)")
            .as("rs_wmin"),
          expr("CAST(qm_max AS DOUBLE) / CAST(10000000000 AS DOUBLE)")
            .as("rs_wmax"),
          // n_bank >= 2 guard (r12 ADVICE): with a single surviving
          // window size the LS denominator is 0 — NULL on Spark but
          // IEEE NaN on DuckDB; pin both engines to NULL.
          expr("CASE WHEN n_bank >= 2 THEN " +
            "CAST(n_bank * sil - si * sl AS DOUBLE) " +
            "/ CAST(n_bank * sii - si * si AS DOUBLE) " +
            "/ CAST(10000000000 AS DOUBLE) END").as("hurst"))
    }),

    // Sample entropy (Richman & Moorman 2000), m=1, over the daily
    // count series — the regularity/complexity readout beside Hurst
    // (long memory) and spectral entropy (frequency spread): low SampEn
    // means tomorrow looks like today (predictable ops traffic), high
    // means template matches don't persist (irregular). SampEn =
    // −ln(A/B): B = pairs of days with |xᵢ−xⱼ| ≤ r, A = those whose
    // NEXT days also match (m=1 → m+1 templates). Exactness: the
    // tolerance r = max(1, Σx ÷ 5n) is an integer DIV (20% of the mean
    // daily count — scale-free in the count units, no std/sqrt on the
    // FP path), A and B are exact integer counts, and −ln(A/B) =
    // (log2B − log2A)·ln2 is two portable-log2 chains on the counts —
    // zero libm. Scale: the pair scan is the day-grain self-join —
    // bounded by the CALENDAR squared (3650² ≈ 13M at a 10-year span),
    // never by event count; events collapse to days in one keyed agg.
    "q_ts_sample_entropy" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val pr = daily
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"))
        .withColumn("r", expr(
          "greatest(sx div greatest(5 * n_days, CAST(1 AS BIGINT)), " +
            "CAST(1 AS BIGINT))"))
      val wIdx = Window.orderBy(asc_nulls_last("day"))
      val f = daily
        .withColumn("idx", row_number().over(wIdx).cast("long") - 1L)
        .withColumn("xn", lead(col("x"), 1).over(wIdx))
        .filter(col("xn").isNotNull)
      val a = f.select(col("idx").as("ia"), col("x").as("xa"),
        col("xn").as("xna"))
      val b = f.select(col("idx").as("ib"), col("x").as("xb"),
        col("xn").as("xnb"))
      val cnts = a.join(b, col("ia") < col("ib"))
        .crossJoin(broadcast(pr))
        .agg(max("n_days").as("n_days"), max("r").as("r"),
          count(when(expr("abs(xa - xb) <= r"), 1)).as("b_pairs"),
          count(when(expr("abs(xa - xb) <= r AND abs(xna - xnb) <= r"),
            1)).as("a_pairs"))
        .withColumn("bz", expr("greatest(b_pairs, CAST(1 AS BIGINT))"))
        .withColumn("az", expr("greatest(a_pairs, CAST(1 AS BIGINT))"))
      val lg = graft.Det.withPlog2(
        graft.Det.withPlog2(cnts, "bz", "lb"), "az", "la")
      lg.selectExpr("n_days", "r", "b_pairs", "a_pairs",
        "CASE WHEN a_pairs > 0 AND b_pairs > 0 THEN " +
          "(lb - la) * CAST(0.6931471805599453 AS DOUBLE) END " +
          "AS sampen")
    }),

    // Dickey–Fuller unit-root regression (Dickey & Fuller 1979, the
    // plain DF form Δx_t = α + β·x_{t−1} + ε over the daily total-count
    // series) — the stationarity gate a forecasting pipeline runs
    // before trusting ACF/ARIMA readouts (a random-walk series fakes
    // long memory in q_ts_autocorr; β significantly < 0 rejects the
    // unit root). Exactness: consecutive-day pairs come from the
    // autocorr date equi-join, the six OLS moments (n, Σz, Σy, Σzy,
    // Σzz, Σyy; z = lag level, y = difference) are exact integers with
    // operand-first DECIMAL(38,0) products, and β/α/SSE/t is ONE fixed
    // IEEE tree over VARCHAR-routed exact pieces shared verbatim —
    // via the textbook identity SSE = Σyy − α·Σy − β·Σzy, no residual
    // pass. Scale: the autocorr economics — one day-grain shuffle, a
    // self-equi-join of the tiny day frame, a 1-row result.
    // Granger causality, 1 lag (Granger 1969): does YESTERDAY'S click
    // count improve today's purchase-count forecast beyond yesterday's
    // purchases alone? Restricted p_t = α + β·p_{t−1} vs unrestricted
    // + γ·c_{t−1}; F = (SSE_r − SSE_u)/(SSE_u/(n−3)), F(1, n−3) under
    // "no causality" — the lead-indicator triage a metrics pipeline
    // runs before wiring one series into another's forecast. Exactness:
    // the 10 OLS moments are exact integers over the day-grain pair
    // join (the q_ts_adf equi-join) with operand-first DECIMAL(38,0)
    // products; every CENTERED moment is the n-scaled integer
    // n·Σab − Σa·Σb routed to DOUBLE via VARCHAR, and the 2-regressor
    // normal equations solve in ONE fixed IEEE tree — the n-scaling
    // cancels in β/γ and in F (both SSEs carry the same n factor), so
    // the reported nsse_* are the n·SSE integers' double images, named
    // honestly. Scale: one day-grain shuffle, a tiny self-equi-join,
    // a 1-row result.
    "q_ts_granger" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("p"),
          sum(when(col("event_type") === "click", 1L)
            .otherwise(0L)).as("c"))
      val pairs = daily
        .withColumn("day2", expr("date_add(day, 1)"))
        .join(daily.select(col("day").as("day2"), col("p").as("y")),
          "day2")
        .select(col("p").as("z1"), col("c").as("z2"), col("y"))
      def pr(a: String, b: String) =
        sum(expr(s"CAST($a AS $dec) * CAST($b AS $dec)"))
      def cs(spq: String, sa: String, sb: String): String =
        s"CAST(CAST(CAST(n AS $dec) * $spq - CAST($sa AS $dec) " +
          s"* CAST($sb AS $dec) AS STRING) AS DOUBLE)"
      pairs.agg(count(lit(1)).as("n"),
          sum("z1").as("s1"), sum("z2").as("s2"), sum("y").as("sy"),
          pr("z1", "z1").as("s11"), pr("z2", "z2").as("s22"),
          pr("z1", "z2").as("s12"), pr("z1", "y").as("s1y"),
          pr("z2", "y").as("s2y"), pr("y", "y").as("syy"))
        .withColumn("c11", expr(cs("s11", "s1", "s1")))
        .withColumn("c22", expr(cs("s22", "s2", "s2")))
        .withColumn("c12", expr(cs("s12", "s1", "s2")))
        .withColumn("c1y", expr(cs("s1y", "s1", "sy")))
        .withColumn("c2y", expr(cs("s2y", "s2", "sy")))
        .withColumn("cyy", expr(cs("syy", "sy", "sy")))
        .withColumn("dd", expr("c11 * c22 - c12 * c12"))
        .withColumn("beta", expr(
          "CASE WHEN dd > 0 THEN (c22 * c1y - c12 * c2y) / dd END"))
        .withColumn("gamma", expr(
          "CASE WHEN dd > 0 THEN (c11 * c2y - c12 * c1y) / dd END"))
        .withColumn("nsse_u", expr(
          "CASE WHEN dd > 0 THEN cyy - beta * c1y - gamma * c2y END"))
        .withColumn("nsse_r", expr(
          "CASE WHEN c11 > 0 THEN cyy - c1y * c1y / c11 END"))
        .withColumn("f_granger", expr(
          "CASE WHEN dd > 0 AND c11 > 0 AND n > 3 AND nsse_u > 0 " +
            "THEN (nsse_r - nsse_u) " +
            "/ (nsse_u / CAST(n - 3 AS DOUBLE)) END"))
        .select("n", "beta", "gamma", "nsse_r", "nsse_u", "f_granger")
    }),

    "q_ts_adf" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val pairs = daily
        .withColumn("day2", expr("date_add(day, 1)"))
        .join(daily.select(col("day").as("day2"), col("x").as("x2")),
          "day2")
        .select(col("x").as("z"), (col("x2") - col("x")).as("y"))
      val mom = pairs.agg(count(lit(1)).as("n"),
        sum("z").as("sz"), sum("y").as("sy"),
        sum(expr(s"CAST(z AS $dec) * CAST(y AS $dec)")).as("szy"),
        sum(expr(s"CAST(z AS $dec) * CAST(z AS $dec)")).as("szz"),
        sum(expr(s"CAST(y AS $dec) * CAST(y AS $dec)")).as("syy"))
      def rt(c: String): String = s"CAST(CAST($c AS STRING) AS DOUBLE)"
      val betaNum = s"(CAST(n AS DOUBLE) * ${rt("szy")} " +
        s"- CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))"
      val betaDen = s"(CAST(n AS DOUBLE) * ${rt("szz")} " +
        s"- CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))"
      mom
        .withColumn("beta", expr(s"$betaNum / $betaDen"))
        .withColumn("alpha", expr(
          "(CAST(sy AS DOUBLE) - beta * CAST(sz AS DOUBLE)) " +
            "/ CAST(n AS DOUBLE)"))
        .withColumn("sse", expr(
          s"${rt("syy")} - alpha * CAST(sy AS DOUBLE) " +
            s"- beta * ${rt("szy")}"))
        .withColumn("t_stat", expr(
          "beta / sqrt((sse / CAST(n - 2 AS DOUBLE)) " +
            s"* CAST(n AS DOUBLE) / $betaDen)"))
        .select(col("n").as("n_pairs"), col("beta"), col("alpha"),
          col("t_stat"))
    }),

    // Spectral entropy over the q_ts_periodogram period bank — ONE
    // number for "how concentrated is the cadence?": H = log2(Q) −
    // Σ qₖ·log2(qₖ)/Q over the (downscaled) per-period energies, 0 =
    // all energy in one period (pure cycle), 2 bits = energy spread
    // flat across the 4 candidate periods (noise-like). Exactness: the
    // exact DECIMAL(38,0) energies from the periodogram grid downshift
    // by ONE shared integer divisor g = max(1, total div 10⁷) so the
    // portable-log2 path AND the 1e-10-grid terms stay inside BIGINT
    // (qₖ ≤ 10⁷ ⇒ Σ qₖ·log2(qₖ)·10¹⁰ ≤ 2.4e18; a ≤1e-7 relative
    // truncation applied identically on both engines — same numbers
    // in, same numbers out), zero-energy periods contribute zero by
    // the 0·log 0
    // convention, each term quantizes to the 1e-10 grid before the
    // order-insensitive integer sum (the q_event_entropy machinery),
    // and the final assembly is one fixed IEEE tree. Scale: the
    // periodogram economics — everything after the day-grain agg runs
    // on a 4-row frame.
    "q_ts_spectral_entropy" -> ((s, d) => {
      val dec = "DECIMAL(38,0)"
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx"), min("day").as("d0"))
        .withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("nd"),
          (col("x") * col("nd") - col("sx")).as("cx"),
          datediff(col("day"), col("d0")).cast("long").as("tt"))
      val powers = cent
        .select(col("cx"), col("tt"),
          explode(expr("array(2L, 3L, 4L, 6L)")).as("period"))
        .withColumn("m", expr("tt % period"))
        .withColumn("c2", expr(
          "CASE WHEN period = 2 THEN " +
            "(CASE WHEN m = 0 THEN 2 ELSE -2 END) " +
            "WHEN period = 3 THEN " +
            "(CASE WHEN m = 0 THEN 2 ELSE -1 END) " +
            "WHEN period = 4 THEN " +
            "(CASE WHEN m = 0 THEN 2 WHEN m = 2 THEN -2 ELSE 0 END) " +
            "ELSE (CASE WHEN m = 0 THEN 2 WHEN m = 3 THEN -2 " +
            "WHEN m = 1 OR m = 5 THEN 1 ELSE -1 END) END"))
        .withColumn("s2", expr(
          "CASE WHEN period = 2 THEN 0 " +
            "WHEN period = 3 THEN " +
            "(CASE WHEN m = 0 THEN 0 WHEN m = 1 THEN 1 ELSE -1 END) " +
            "WHEN period = 4 THEN " +
            "(CASE WHEN m = 1 THEN 2 WHEN m = 3 THEN -2 ELSE 0 END) " +
            "ELSE (CASE WHEN m = 0 OR m = 3 THEN 0 " +
            "WHEN m = 1 OR m = 2 THEN 1 ELSE -1 END) END"))
        .groupBy("period")
        .agg(sum(col("cx") * col("c2")).as("ca"),
          sum(col("cx") * col("s2")).as("sa"))
        .withColumn("p4", expr(
          s"CAST(ca AS $dec) * CAST(ca AS $dec) " +
            "+ CAST(CASE WHEN period = 3 OR period = 6 " +
            s"THEN 3 ELSE 1 END AS $dec) " +
            s"* CAST(sa AS $dec) * CAST(sa AS $dec)"))
      val g = broadcast(powers
        .agg(sum("p4").as("ptot")).withColumn("g", expr(
          s"greatest(CAST(1 AS BIGINT), " +
            s"ptot div CAST(10000000 AS $dec))"))
        .select("g").withColumn("_one", lit(1)))
      val q = powers.withColumn("_one", lit(1)).join(g, "_one")
        .withColumn("qk", expr(s"p4 div CAST(g AS $dec)"))
        .filter(col("qk") > 0L)
        .withColumn("e2", expr(Det.log2Exp("qk")))
        .withColumn("mm", expr(Det.mantissa("qk", "e2")))
        .withColumn("zz", expr(Det.zOfM("mm")))
        .withColumn("l2",
          expr(s"CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")}"))
        .withColumn("term", expr(
          "CAST(floor(CAST(qk AS DOUBLE) * l2 " +
            "* CAST(10000000000 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .agg(count(lit(1)).as("n_periods"), sum("qk").as("qt"),
          sum("term").as("st"))
      q.withColumn("e2", expr(Det.log2Exp("qt")))
        .withColumn("mm", expr(Det.mantissa("qt", "e2")))
        .withColumn("zz", expr(Det.zOfM("mm")))
        .withColumn("spectral_entropy_bits", expr(
          s"CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")} " +
            "- CAST(st AS DOUBLE) / CAST(10000000000 AS DOUBLE) " +
            "/ CAST(qt AS DOUBLE)"))
        .withColumn("flatness", expr(
          "spectral_entropy_bits / CAST(2 AS DOUBLE)"))
        .select("n_periods", "spectral_entropy_bits", "flatness")
    }),

    // STL strength-of-components (Hyndman & Athanasopoulos, FPP3
    // §4.4): F_trend = max(0, 1 − Var(R)/Var(T+R)) and F_seasonal =
    // max(0, 1 − Var(R)/Var(S+R)) over the STL-lite decomposition —
    // the two numbers that say whether the series is trend-dominated,
    // seasonality-dominated, or noise (and whether q_anomaly_stl's
    // residual gate has any signal to work with). Each component
    // quantizes to an exact DECIMAL(18,7) per day (the per-row IEEE
    // doubles are identical on both engines, so the rounding is too);
    // variances then stay exact via n·Σx² − (Σx)² (the n² denominators
    // CANCEL in the ratio, so no variance division ever happens) and
    // each strength is ONE IEEE division of VARCHAR-routable decimals.
    // Scale: everything after the one event→day collapse runs on the
    // day-domain-bounded interior frame.
    "q_ts_seasonality_strength" -> ((s, d) => {
      val q = decomposeFrom(dailyPoints(t(s, d, "events")))
        .filter(col("resid").isNotNull)
        .selectExpr(
          "CAST(CAST(resid AS DECIMAL(28,7)) * 10000000 AS BIGINT) AS ri",
          "CAST(CAST(trend + resid AS DECIMAL(28,7)) * 10000000 " +
            "AS BIGINT) AS ti",
          "CAST(CAST(seasonal + resid AS DECIMAL(28,7)) * 10000000 " +
            "AS BIGINT) AS si")
      q.agg(count(lit(1)).as("n"),
          sum(expr("CAST(ri AS DECIMAL(38,0)) * CAST(ri AS DECIMAL(38,0))"))
            .as("rr"),
          sum(expr("CAST(ri AS DECIMAL(38,0))")).as("sr"),
          sum(expr("CAST(ti AS DECIMAL(38,0)) * CAST(ti AS DECIMAL(38,0))"))
            .as("tt"),
          sum(expr("CAST(ti AS DECIMAL(38,0))")).as("st"),
          sum(expr("CAST(si AS DECIMAL(38,0)) * CAST(si AS DECIMAL(38,0))"))
            .as("ss2"),
          sum(expr("CAST(si AS DECIMAL(38,0))")).as("ss"))
        .selectExpr("n",
          "greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) " +
            "- CAST(n * rr - sr * sr AS DOUBLE) " +
            "/ CAST(n * tt - st * st AS DOUBLE)) AS strength_trend",
          "greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) " +
            "- CAST(n * rr - sr * sr AS DOUBLE) " +
            "/ CAST(n * ss2 - ss * ss AS DOUBLE)) AS strength_seasonal")
    }),

    // Cross-correlation (click → purchase) at lags −7..+7 over the
    // daily count series — the lead–lag readout behind "do clicks lead
    // purchases, and by how many days": the argmax lag is the
    // conversion delay and sign asymmetry separates leading from
    // trailing relationships. Same multiply-through-by-n centering as
    // q_ts_autocorr (cx = x·nd − sx exact), products in DECIMAL(38,0)
    // (a 100 TB corpus pushes Σcx·cy past BIGINT), the numerator ships
    // VARCHAR-routed per §7.4, and the reported r2_signed =
    // sign(num)·num²/(Σcx²·Σcy²) is a 4-op IEEE tree over identically-
    // derived doubles. Scale: one day-grain shuffle builds the two
    // series; the lag pairs are an equi-join of the TINY day-grain
    // frame against itself on a date key; totals/denominators are 1-row
    // broadcasts on a constant key (the q_ts_autocorr shape).
    "q_ts_ccf" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("x").as("sx"), sum("y").as("sy"))
        .withColumn("_one", lit(1)))
      val cent = daily.withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("day"),
          (col("x") * col("nd") - col("sx")).as("cx"),
          (col("y") * col("nd") - col("sy")).as("cy"))
        .persistScoped() // three consumers: denominators + both lag-join sides
      val den = broadcast(cent.agg(
          sum(expr("CAST(cx AS DECIMAL(38,0)) * CAST(cx AS DECIMAL(38,0))"))
            .as("dx"),
          sum(expr("CAST(cy AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))"))
            .as("dy"))
        .withColumn("_one", lit(1)))
      cent
        .select(col("day"), col("cx"),
          explode(expr("sequence(-7, 7)")).as("lag"))
        .withColumn("day2", expr("date_add(day, lag)"))
        .join(cent.select(col("day").as("day2"), col("cy")), "day2")
        .groupBy(col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(cx AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))"))
            .as("num"))
        .withColumn("_one", lit(1)).join(den, "_one")
        .selectExpr("lag", "n_pairs",
          "CAST(num AS STRING) AS num_str",
          "CAST(num AS DOUBLE) * CAST(num AS DOUBLE) " +
            "* CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS DOUBLE) " +
            "/ (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) AS r2_signed")
        .orderBy(asc_nulls_last("lag"))
    }),

    // CUSUM changepoint scan over the daily value series — "did the
    // level shift, and when?" (Page 1954): the day t maximizing
    // |Σ_{d≤t}(s_d − μ)| is the most likely changepoint and the maximum
    // is the shift evidence. All arithmetic EXACT: daily sums are
    // decimals, and centering multiplies through by n (dev = cum·n − t·S,
    // exact decimal), so the argmax and the tie-break (earliest day) are
    // engine-identical; the single division by n happens after the max.
    // Scale: the cumulative runs over the DAY-GRAIN frame — one row per
    // calendar day, bounded by the span of time, not the event count
    // (the q_concurrency_peak carry-window argument; the event-grain
    // work is all in the partial day aggregation below it).
    // Change-point detection (binary segmentation, one split): for every
    // candidate split day k the between-segment objective
    // SL²/nL + SR²/nR over the daily-total series — maximizing it
    // minimizes total within-segment SSE (the one-split special case of
    // Scott & Knott / PELT-style segmentation), so the output curve IS
    // the segmentation decision surface with the argmax as the change
    // point. Same scale shape as q_ts_cusum: the event-grain work is ONE
    // keyed day aggregation; the prefix sums run over the DAY-GRAIN
    // frame (bounded by the calendar span, not the event count —
    // allowlisted in PlanRegressionSpec with the cusum rationale); both
    // segment sums are exact decimals and the score is the identical
    // 7-op IEEE tree on both engines.
    "q_changepoint" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(Det.exactSum(col("value")).as("s"))
      val w = Window.orderBy(asc_nulls_last("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("s").as("stot")).withColumn("_one", lit(1)))
      // one select → ONE Window node (the q_ts_cusum frame-merge)
      daily.select(col("day"), row_number().over(w).as("t"),
          sum("s").over(w).as("cl"))
        .withColumn("_one", lit(1)).join(tot, "_one")
        .filter(col("t") < col("nd")) // right segment must be non-empty
        .select(col("day").as("split_day"),
          col("t").cast("long").as("n_left"),
          (col("nd") - col("t")).as("n_right"),
          (col("cl").cast("double") * col("cl").cast("double")
              / col("t")
            + (col("stot") - col("cl")).cast("double")
              * (col("stot") - col("cl")).cast("double")
              / (col("nd") - col("t"))).as("score"))
        .orderBy(asc_nulls_last("split_day"))
    }),

    "q_ts_cusum" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(Det.exactSum(col("value")).as("s"))
      val w = Window.orderBy(asc_nulls_last("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = broadcast(daily.agg(count(lit(1)).as("nd"),
        sum("s").as("stot")).withColumn("_one", lit(1)))
      // one select → ONE Window node (row_number's required frame is
      // exactly w's rows-frame, so Catalyst keeps them together)
      val dev = daily
        .select(col("day"), col("s"),
          row_number().over(w).as("t"), sum("s").over(w).as("cum"))
        .withColumn("_one", lit(1)).join(tot, "_one")
        // explicit narrow decimal casts keep the product width ≤ 38 on
        // BOTH engines — DuckDB silently converts an over-wide decimal
        // multiply to DOUBLE, which would break exactness
        .withColumn("dev", abs(
          col("cum").cast(DecimalType(18, 4))
            * col("nd").cast(DecimalType(6, 0))
          - col("t").cast(DecimalType(6, 0))
            * col("stot").cast(DecimalType(18, 4))))
      // argmax with earliest-day tie-break as a day-grain top-1: exact
      // decimal comparisons, single pass, no re-derived dev subtree
      dev
        .orderBy(desc("dev"), asc_nulls_last("day"))
        .limit(1)
        .select(col("day").as("day_star"), col("nd").as("n_days"),
          (col("dev").cast("double") / col("nd").cast("double"))
            .as("cusum_stat"))
    }),

    // EWMA smoothing of per-type daily traffic — the trend line behind
    // "is today's volume drifting away from its recent baseline".
    // α = 1/2 over a trailing 16-day calendar window, so every weight is
    // a dyadic rational 2^-(k+1) and every term x·2^-(k+1) is EXACTLY
    // representable (counts < 2^36); all partial sums are exact dyadics
    // too, so the result is bit-identical under ANY summation order — no
    // decimal routing, safe under partial aggregation and AQE. Computed
    // as a bounded 16-way explode of the day-grain frame joined back on
    // a date key (the q_rolling_distinct shape) — never a window over
    // raw events, and gap days contribute nothing (their weight is
    // simply absent from wsum, the "adjusted" EWMA convention).
    "q_ts_ewma" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val contrib = daily
        .select(col("event_type"), col("day"), col("x"),
          explode(expr("sequence(0, 15)")).as("k"))
        .withColumn("day2", expr("date_add(day, k)"))
        .withColumn("wgt",
          lit(1.0) / expr("CAST(shiftleft(1L, k + 1) AS DOUBLE)"))
        .groupBy(col("event_type").as("c_type"), col("day2"))
        .agg(sum(col("x") * col("wgt")).as("num"),
          sum(col("wgt")).as("wsum"))
      daily.join(contrib,
          col("event_type") === col("c_type")
            && col("day") === col("day2"))
        .select(col("event_type"), col("day"), col("x"),
          (col("num") / col("wsum")).as("ewma"))
        .orderBy(asc_nulls_last("event_type"), asc_nulls_last("day"))
    }),

    // Exponentially-weighted variance/volatility beside q_ts_ewma's
    // level — the adaptive-band anomaly detector ("is today's count
    // outside the recent-weighted ±kσ envelope?") that a fixed-window
    // variance cannot give without a cliff at the window edge. Same
    // α = 1/2 EXACT-DYADIC trick: every weight 2^-(k+1) and every
    // product x·w, x²·w is an exactly-representable double (integer ×
    // power of two, far inside the 52-bit mantissa), so the weighted
    // sums are EXACT and order-insensitive despite being doubles — no
    // decimal routing needed; the variance E_w[x²] − E_w[x]² and its
    // sqrt are the only rounding IEEE ops, identical trees both
    // engines. Scale: the ewma economics verbatim (bounded 16-day
    // explode of the day-grain frame, one keyed agg).
    "q_ts_ewm_var" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val contrib = daily
        .select(col("event_type"), col("day"), col("x"),
          explode(expr("sequence(0, 15)")).as("k"))
        .withColumn("day2", expr("date_add(day, k)"))
        .withColumn("wgt",
          lit(1.0) / expr("CAST(shiftleft(1L, k + 1) AS DOUBLE)"))
        .groupBy(col("event_type").as("c_type"), col("day2"))
        .agg(sum(col("x") * col("wgt")).as("num"),
          sum(col("x") * col("x") * col("wgt")).as("num2"),
          sum(col("wgt")).as("wsum"))
      daily.join(contrib,
          col("event_type") === col("c_type")
            && col("day") === col("day2"))
        .withColumn("ewma", expr("num / wsum"))
        .withColumn("ewm_var", expr(
          "num2 / wsum - (num / wsum) * (num / wsum)"))
        .withColumn("ewm_std", expr("sqrt(greatest(ewm_var, " +
          "CAST(0 AS DOUBLE)))"))
        .select("event_type", "day", "x", "ewma", "ewm_var", "ewm_std")
        .orderBy(asc_nulls_last("event_type"), asc_nulls_last("day"))
    }),

    // EWMA control chart (Roberts 1959) per event type — the MONITOR
    // composed from the ewma/ewm_var machinery: each day's count is
    // judged against the smoothed level/spread of STRICTLY PRIOR days
    // (day2 = day + k + 1 shifts the dyadic contribution window by one,
    // so a spike never absolves itself by inflating its own baseline —
    // the standard one-step-ahead control-chart discipline). Flag when
    // |x − ewma_prior| > 3·sd_prior. The same α = 1/2 exact-dyadic
    // weights keep every weighted sum EXACT (integer × power of two);
    // z and the 3σ comparison are fixed IEEE trees with identical text;
    // zero-spread days guard to NULL and don't flag. Each type's first
    // day (no prior window) drops by the inner join, stated. Scale: the
    // ewma economics verbatim — bounded 16-day explode of the
    // day-grain frame, one keyed agg, then ONE per-type fold.
    "q_ts_control_chart" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val contrib = daily
        .select(col("event_type"), col("day"), col("x"),
          explode(expr("sequence(0, 15)")).as("k"))
        .withColumn("day2", expr("date_add(day, k + 1)"))
        .withColumn("wgt",
          lit(1.0) / expr("CAST(shiftleft(1L, k + 1) AS DOUBLE)"))
        .groupBy(col("event_type").as("c_type"), col("day2"))
        .agg(sum(col("x") * col("wgt")).as("num"),
          sum(col("x") * col("x") * col("wgt")).as("num2"),
          sum(col("wgt")).as("wsum"))
      daily.join(contrib,
          col("event_type") === col("c_type")
            && col("day") === col("day2"))
        .withColumn("ewma", expr("num / wsum"))
        .withColumn("sd", expr(
          "sqrt(greatest(num2 / wsum - (num / wsum) * (num / wsum), " +
            "CAST(0 AS DOUBLE)))"))
        .withColumn("z", expr(
          "CASE WHEN sd > CAST(0 AS DOUBLE) THEN " +
            "(CAST(x AS DOUBLE) - ewma) / sd END"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(expr("CASE WHEN abs(z) > CAST(3 AS DOUBLE) THEN 1 " +
            "ELSE 0 END")).as("n_flagged"),
          max(expr("abs(z)")).as("max_abs_z"))
        .orderBy(asc_nulls_last("event_type"))
    })
  )

  /** Trailing-7-day distinct users per active day: sliding-window COUNT
    * DISTINCT, which no window frame can express (distinct aggregates
    * don't window). Scale shape: dedup to (day, user) grain first — ONE
    * keyed shuffle absorbing all per-day repeat traffic — then each
    * (day, user) row fans out to the ≤ 7 target days it contributes to
    * (a BOUNDED explode, versus the unbounded range self-join the naive
    * form needs), and one distinct aggregate per target day finishes.
    * The inner join against the observed-day spine keeps the contract
    * "every day that had any traffic", so day gaps never invent rows.
    * Unsorted; the declared query adds its ORDER BY. */
  def rollingDistinct(events: DataFrame): DataFrame = {
    val du = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val days = du.select(col("day")).distinct()
    du.withColumn("target",
        explode(expr("sequence(day, day + interval 6 day)")))
      .join(days.withColumnRenamed("day", "target"), "target")
      .groupBy("target")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("target").as("day"), col("n_users"))
  }

  val oracle: Map[String, String] = Map(
    "q_user_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), r AS (
        |  SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM days
        |), c AS (
        |  SELECT user_id, day - CAST(rn AS INTEGER) AS anchor, COUNT(*) AS len
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks
        |FROM c GROUP BY 1
        |ORDER BY user_id ASC NULLS LAST""".stripMargin,

    "q_attribution" ->
      s"""WITH tagged AS (
         |  SELECT event_type, value,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |        THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM events)
         |SELECT coalesce(touch, 'direct') AS touch,
         |  COUNT(*) AS n_purchases,
         |  ${graft.Det.sqlDsum("value")} AS revenue
         |FROM tagged
         |WHERE event_type = 'purchase'
         |GROUP BY 1
         |ORDER BY touch ASC NULLS LAST""".stripMargin,

    "q_funnel" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), s AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |  GROUP BY e.user_id
        |)
        |SELECT u.user_id, s.s_ts, c.c_ts, p.p_ts,
        |  CAST(CASE WHEN s.s_ts IS NULL THEN 0
        |    WHEN c.c_ts IS NULL THEN 1
        |    WHEN p.p_ts IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage
        |FROM u
        |LEFT JOIN s ON u.user_id = s.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id ASC NULLS LAST""".stripMargin,

    "q_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
        |)
        |SELECT f.cohort_day,
        |  CAST(date_diff('day', f.cohort_day, ev.day) AS BIGINT)
        |    AS day_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |WHERE date_diff('day', f.cohort_day, ev.day) BETWEEN 0 AND 14
        |GROUP BY 1, 2
        |ORDER BY cohort_day ASC NULLS LAST, day_offset ASC NULLS LAST"""
        .stripMargin,

    "q_snapshot_diff" ->
      """WITH la AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), lb AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |), a AS (SELECT user_id, value AS v_after FROM la WHERE rn = 1
        |), b AS (SELECT user_id, value AS v_before FROM lb WHERE rn = 1)
        |SELECT a.user_id, v_before, v_after,
        |  CASE WHEN v_before IS NULL THEN 'added'
        |       WHEN v_before = v_after THEN 'unchanged'
        |       ELSE 'changed' END AS change
        |FROM a LEFT JOIN b ON a.user_id = b.user_id
        |ORDER BY a.user_id ASC NULLS LAST""".stripMargin,
    "q_cohort_ltv" ->
      s"""WITH first AS (
         |  SELECT user_id,
         |    CAST(floor(datediff('day', DATE '2024-01-01',
         |      MIN(CAST(ts AS DATE))) / 7) AS BIGINT) AS cohort_w
         |  FROM events GROUP BY user_id
         |), grid AS (
         |  SELECT f.cohort_w,
         |    CAST(floor(datediff('day', DATE '2024-01-01',
         |      CAST(e.ts AS DATE)) / 7) AS BIGINT) - f.cohort_w
         |      AS week_idx,
         |    ${Det.sqlDsum("e.value")} AS week_rev,
         |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_buyers
         |  FROM events e JOIN first f ON e.user_id = f.user_id
         |  WHERE e.event_type = 'purchase'
         |  GROUP BY 1, 2
         |)
         |SELECT cohort_w, week_idx, week_rev, n_buyers,
         |  CAST(CAST(SUM(CAST(week_rev AS DECIMAL(18,4))) OVER (
         |    PARTITION BY cohort_w ORDER BY week_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS VARCHAR) AS DOUBLE) AS cum_ltv
         |FROM grid
         |ORDER BY cohort_w ASC NULLS LAST, week_idx ASC NULLS LAST""".stripMargin,

    "q_scd2_intervals" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
        |      AS prev_type
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, event_type, ts FROM r
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |)
        |SELECT user_id, event_id AS start_event_id, event_type,
        |  ts AS valid_from,
        |  lead(ts, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
        |    AS valid_to
        |FROM s
        |ORDER BY user_id ASC NULLS LAST, valid_from ASC NULLS LAST,
        |  start_event_id ASC NULLS LAST""".stripMargin,

    "q_path_per_session" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, event_type, tsu,
        |    CASE WHEN lag(tsu, 1) OVER w IS NULL
        |      OR tsu - lag(tsu, 1) OVER w > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST)
        |), si AS (
        |  SELECT user_id, event_id, event_type, tsu,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g
        |), rn AS (
        |  SELECT user_id, sess, event_type, tsu, event_id,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
        |  FROM si
        |), p AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '>'
        |      ORDER BY tsu ASC, event_id ASC) AS path
        |  FROM rn WHERE rn <= 5 GROUP BY user_id, sess
        |)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC NULLS LAST, path ASC NULLS LAST
        |LIMIT 20""".stripMargin,

    "q_anomaly_mad" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value FROM events
        |), r1 AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC NULLS LAST, event_id ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev
        |), med AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |      AS med
        |  FROM r1 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        |  GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |    abs(e.value - m.med) AS adev, m.med
        |  FROM ev e JOIN med m USING (event_type)
        |), r2 AS (
        |  SELECT event_type, adev, med,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY adev ASC NULLS LAST, event_id ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), mad AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(adev AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
        |      AS mad
        |  FROM r2 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        |  GROUP BY event_type
        |)
        |SELECT d.event_type, COUNT(*) AS n_events, d.med, m.mad,
        |  COUNT(CASE WHEN d.adev > m.mad * 3 THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type, d.med, m.mad
        |ORDER BY d.event_type ASC NULLS LAST""".stripMargin,

    "q_markov_transition" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
        |      AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM r WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |), tot AS (
        |  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_prev
        |  FROM c GROUP BY prev_type
        |)
        |SELECT c.prev_type, c.next_type, c.n, tot.n_prev,
        |  CAST(c.n AS DOUBLE) / CAST(tot.n_prev AS DOUBLE) AS p
        |FROM c JOIN tot ON c.prev_type = tot.prev_type
        |ORDER BY c.prev_type ASC NULLS LAST,
        |  c.next_type ASC NULLS LAST""".stripMargin,

    // The one-step CTEs verbatim, then the mid-state join with the
    // identical per-term quantization text.
    "q_markov_2step" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
        |      AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM r WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |), tot AS (
        |  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_prev
        |  FROM c GROUP BY prev_type
        |), tm AS (
        |  SELECT c.prev_type, c.next_type, c.n, tot.n_prev
        |  FROM c JOIN tot ON c.prev_type = tot.prev_type
        |), p AS (
        |  SELECT a.prev_type AS i, b.next_type AS k,
        |    CAST(floor(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
        |      / (CAST(a.n_prev AS DOUBLE) * CAST(b.n_prev AS DOUBLE))
        |      * CAST(1000000000000 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term
        |  FROM tm a JOIN tm b ON b.prev_type = a.next_type
        |)
        |SELECT i AS prev_type, k AS next_type, COUNT(*) AS n_paths,
        |  CAST(SUM(term) AS BIGINT) AS q2,
        |  CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)
        |    / CAST(1000000000000 AS DOUBLE) AS p2
        |FROM p GROUP BY 1, 2
        |ORDER BY prev_type ASC NULLS LAST,
        |  next_type ASC NULLS LAST""".stripMargin,

    // The oracle runs the sweep line as ONE global running sum (fine at
    // oracle scale); the Spark side's two-level day-partitioned prefix
    // sum must produce the identical timeline.
    "q_concurrency_peak" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        |), g AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN lag(tsu, 1) OVER w IS NULL
        |      OR tsu - lag(tsu, 1) OVER w > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST)
        |), si AS (
        |  SELECT user_id, tsu,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g
        |), sp AS (
        |  SELECT user_id, sess, min(tsu) AS s, max(tsu) AS e
        |  FROM si GROUP BY user_id, sess
        |), b AS (
        |  SELECT s AS tsu, 1 AS delta FROM sp
        |  UNION ALL
        |  SELECT e + 1 AS tsu, -1 AS delta FROM sp
        |), p AS (
        |  SELECT tsu, CAST(SUM(delta) AS BIGINT) AS d
        |  FROM b GROUP BY tsu
        |)
        |SELECT tsu, d,
        |  CAST(SUM(d) OVER (ORDER BY tsu ASC NULLS LAST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS conc
        |FROM p ORDER BY tsu ASC NULLS LAST""".stripMargin,

    "q_window_time_range" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events
        |)
        |SELECT user_id, event_id, tsu,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR)
        |    AS DOUBLE) AS sum_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id ASC NULLS LAST, tsu ASC NULLS LAST,
        |  event_id ASC NULLS LAST""".stripMargin,

    "q_resample_ffill" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
         |), daily AS (
         |  SELECT user_id, day, ${Det.sqlDsum("value")} AS dval
         |  FROM ev GROUP BY user_id, day
         |), span AS (
         |  SELECT user_id, min(day) AS d0, max(day) AS d1
         |  FROM ev GROUP BY user_id
         |), spine AS (
         |  SELECT user_id, CAST(unnest(generate_series(
         |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
         |    INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM span
         |), j AS (
         |  SELECT s.user_id, s.day, d.dval
         |  FROM spine s LEFT JOIN daily d
         |    ON s.user_id = d.user_id AND s.day = d.day
         |)
         |SELECT user_id, day, dval,
         |  last_value(dval IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS filled
         |FROM j
         |ORDER BY user_id ASC NULLS LAST, day ASC NULLS LAST""".stripMargin,

    // The funnel oracle's stage CTEs re-joined for the per-user diffs;
    // inner joins are exact because stage k only exists given stage k−1.
    "q_funnel_time" ->
      """WITH s AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |  GROUP BY e.user_id
        |), d AS (
        |  SELECT 'signup_to_click' AS transition,
        |    epoch_us(c.c_ts) - epoch_us(s.s_ts) AS dt
        |  FROM c JOIN s ON c.user_id = s.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase' AS transition,
        |    epoch_us(p.p_ts) - epoch_us(c.c_ts) AS dt
        |  FROM p JOIN c ON p.user_id = c.user_id
        |)
        |SELECT transition, COUNT(*) AS n_users,
        |  min(dt) AS min_us, max(dt) AS max_us,
        |  CAST(SUM(dt) AS BIGINT) AS sum_us,
        |  CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_us
        |FROM d GROUP BY transition
        |ORDER BY transition ASC NULLS LAST""".stripMargin,

    "q_seasonal_profile" ->
      s"""SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         |  CAST(hour(ts) AS BIGINT) AS hod,
         |  COUNT(*) AS n_events,
         |  ${Det.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY isodow(ts), hour(ts)
         |ORDER BY dow ASC NULLS LAST, hod ASC NULLS LAST""".stripMargin,

    // Same wedge CTE on the shared user; sizes join per endpoint.
    "q_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |), sz AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM ut GROUP BY event_type
        |), w AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type
        |)
        |SELECT w.ta, w.tb, sa.n_users AS users_a, sb.n_users AS users_b,
        |  w.n_common,
        |  CAST(w.n_common AS DOUBLE)
        |    / (sa.n_users + sb.n_users - w.n_common) AS jac
        |FROM w
        |JOIN sz sa ON sa.event_type = w.ta
        |JOIN sz sb ON sb.event_type = w.tb
        |ORDER BY w.ta ASC NULLS LAST, w.tb ASC NULLS LAST""".stripMargin,

    // The q_text_entropy CTE chain on the (event_type, hour) grid;
    // every log2 through the identical portable exponent+series text
    // and per-bucket terms quantized to the 1e-10 integer grid.
    "q_event_entropy" ->
      s"""WITH hc AS (
         |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY event_type, hour(ts)
         |), l AS (
         |  SELECT event_type, c, ${Det.log2Exp("c")} AS e2 FROM hc
         |), m AS (
         |  SELECT event_type, c, e2, ${Det.sqlMantissa("c", "e2")} AS mm
         |  FROM l
         |), z AS (
         |  SELECT event_type, c, e2, mm, ${Det.zOfM("mm")} AS zz FROM m
         |), lq AS (
         |  SELECT event_type, c,
         |    CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")} AS l2
         |  FROM z
         |), q AS (
         |  SELECT event_type, c,
         |    CAST(floor(CAST(c AS DOUBLE) * l2
         |      * CAST(10000000000 AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
         |  FROM lq
         |), agg AS (
         |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
         |    CAST(COUNT(*) AS BIGINT) AS n_hours,
         |    CAST(SUM(q) AS BIGINT) AS sq
         |  FROM q GROUP BY event_type
         |), l2n AS (
         |  SELECT *, ${Det.log2Exp("n_events")} AS e2 FROM agg
         |), m2n AS (
         |  SELECT *, ${Det.sqlMantissa("n_events", "e2")} AS mm FROM l2n
         |), z2n AS (
         |  SELECT *, ${Det.zOfM("mm")} AS zz FROM m2n
         |)
         |SELECT event_type, n_events, n_hours,
         |  CAST(e2 AS DOUBLE) + ${Det.plog2Series("zz")}
         |    - CAST(sq AS DOUBLE) / CAST(10000000000 AS DOUBLE)
         |    / CAST(n_events AS DOUBLE) AS entropy_bits
         |FROM z2n ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // HUGEINT mirrors DECIMAL(38,0); num/den VARCHAR-route per §7.4 and
    // `//` is DuckDB's integer division (Spark DIV).
    "q_event_gini" ->
      """WITH uc AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id
        |), h AS (
        |  SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM uc GROUP BY c
        |), cm AS (
        |  SELECT c, m,
        |    SUM(m) OVER (ORDER BY c ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS r0
        |  FROM h
        |), g AS (
        |  SELECT c, m,
        |    CAST(c AS HUGEINT) * (CAST(m AS HUGEINT) * CAST(r0 AS HUGEINT)
        |      + CAST((m * (m + 1)) // 2 AS HUGEINT)) AS gg
        |  FROM cm
        |), a AS (
        |  SELECT CAST(SUM(m) AS HUGEINT) AS n,
        |    SUM(CAST(c AS HUGEINT) * CAST(m AS HUGEINT)) AS tot,
        |    SUM(gg) AS six
        |  FROM g
        |)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(tot AS BIGINT) AS n_events,
        |  CAST(2 * six - (n + 1) * tot AS VARCHAR) AS gini_num_str,
        |  CAST(n * tot AS VARCHAR) AS gini_den_str,
        |  CAST(CAST(2 * six - (n + 1) * tot AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(n * tot AS VARCHAR) AS DOUBLE) AS gini
        |FROM a""".stripMargin,

    // Same exact-decimal per-type day grid; the pair CTE joins the day
    // frame to itself on event_type with day < day2 and the sign
    // comparisons run on the exact decimals.
    "q_ts_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS yd
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)
        |), sg AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.yd > a.yd THEN 1
        |      WHEN b.yd < a.yd THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY a.event_type
        |), nd AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY event_type
        |)
        |SELECT nd.event_type, nd.n_days, sg.s_stat,
        |  nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) AS var_s_x18,
        |  CAST(18 * sg.s_stat * abs(sg.s_stat) AS DOUBLE)
        |    / CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
        |      AS DOUBLE) AS trend_score
        |FROM nd JOIN sg ON nd.event_type = sg.event_type
        |ORDER BY nd.event_type ASC NULLS LAST""".stripMargin,

    // Same exact-decimal day grid as MK; slope doubles route
    // decimal→VARCHAR→DOUBLE (the sqlDsum rule) so the rank order and
    // the final IEEE mean match the Column tree bit-for-bit.
    "q_ts_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS yd
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, CAST(ts AS DATE)
        |), sl AS (
        |  SELECT a.event_type, b.yd - a.yd AS num,
        |    CAST(date_diff('day', a.day, b.day) AS BIGINT) AS den,
        |    CAST(CAST(b.yd - a.yd AS VARCHAR) AS DOUBLE)
        |      / CAST(date_diff('day', a.day, b.day) AS BIGINT) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope ASC NULLS LAST, num ASC NULLS LAST,
        |      den ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM sl
        |), m AS (
        |  SELECT event_type, n_pairs,
        |    MAX(CASE WHEN rn = (n_pairs + 1) // 2 THEN num END) AS nlo,
        |    MAX(CASE WHEN rn = (n_pairs + 1) // 2 THEN den END)
        |      AS den_lo,
        |    MAX(CASE WHEN rn = n_pairs // 2 + 1 THEN num END) AS nhi,
        |    MAX(CASE WHEN rn = n_pairs // 2 + 1 THEN den END) AS den_hi
        |  FROM r
        |  WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
        |  GROUP BY event_type, n_pairs
        |), nd AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY event_type
        |)
        |SELECT nd.event_type, nd.n_days, m.n_pairs,
        |  CAST(m.nlo AS VARCHAR) AS num_lo, m.den_lo,
        |  CAST(m.nhi AS VARCHAR) AS num_hi, m.den_hi,
        |  (CAST(CAST(m.nlo AS VARCHAR) AS DOUBLE) / m.den_lo
        |    + CAST(CAST(m.nhi AS VARCHAR) AS DOUBLE) / m.den_hi) / 2.0
        |    AS slope_per_day
        |FROM nd JOIN m ON nd.event_type = m.event_type
        |ORDER BY nd.event_type ASC NULLS LAST""".stripMargin,

    // Same exact-decimal day grid; every decimal→DOUBLE conversion
    // routes through VARCHAR (the sqlDsum rule — DuckDB's direct cast
    // double-rounds past 2^53) and the arithmetic mirrors the Column
    // tree's association exactly.
    "q_ts_decompose" ->
      s"""$decomposeCtes
        |SELECT day, n_events, y, trend, seasonal, resid FROM dec
        |ORDER BY day ASC NULLS LAST""".stripMargin,

    // Same day-grain moments in HUGEINT (the Spark DECIMAL(38,0)
    // twin); wide values route to DOUBLE via VARCHAR on both engines.
    "q_ts_fano" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS n_events,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM daily GROUP BY event_type
        |), v AS (
        |  SELECT event_type, n_days, n_events,
        |    n_days * sxx - CAST(n_events AS HUGEINT)
        |      * CAST(n_events AS HUGEINT) AS vn
        |  FROM m
        |)
        |SELECT event_type, n_days, n_events,
        |  CAST(CAST(vn AS VARCHAR) AS DOUBLE) AS var_num,
        |  CAST(CAST(vn AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(n_days AS HUGEINT)
        |      * CAST(n_events AS HUGEINT) AS VARCHAR) AS DOUBLE)
        |    AS DOUBLE) AS fano
        |FROM v ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // The decompose CTEs, then the same quantized-decimal variance
    // ratios with VARCHAR-routed casts.
    "q_ts_seasonality_strength" ->
      s"""$decomposeCtes
        |, qx AS (
        |  SELECT
        |    CAST(CAST(resid AS DECIMAL(28,7)) * 10000000 AS BIGINT) AS ri,
        |    CAST(CAST(trend + resid AS DECIMAL(28,7)) * 10000000
        |      AS BIGINT) AS ti,
        |    CAST(CAST(seasonal + resid AS DECIMAL(28,7)) * 10000000
        |      AS BIGINT) AS si
        |  FROM dec WHERE resid IS NOT NULL
        |), ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ri AS HUGEINT) * CAST(ri AS HUGEINT)) AS rr,
        |    SUM(CAST(ri AS HUGEINT)) AS sr,
        |    SUM(CAST(ti AS HUGEINT) * CAST(ti AS HUGEINT)) AS tt,
        |    SUM(CAST(ti AS HUGEINT)) AS st,
        |    SUM(CAST(si AS HUGEINT) * CAST(si AS HUGEINT)) AS ss2,
        |    SUM(CAST(si AS HUGEINT)) AS ss
        |  FROM qx
        |)
        |SELECT n,
        |  greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |    - CAST(CAST(n * rr - sr * sr AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(n * tt - st * st AS VARCHAR) AS DOUBLE))
        |    AS strength_trend,
        |  greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
        |    - CAST(CAST(n * rr - sr * sr AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(n * ss2 - ss * ss AS VARCHAR) AS DOUBLE))
        |    AS strength_seasonal
        |FROM ag""".stripMargin,

    // The decompose CTEs, then the q_anomaly_mad median idiom over the
    // day-grain residual frame (no PARTITION BY: one global series).
    "q_anomaly_stl" ->
      s"""$decomposeCtes
        |, r AS (
        |  SELECT day, resid FROM dec WHERE resid IS NOT NULL
        |), r1 AS (
        |  SELECT day, resid,
        |    row_number() OVER (
        |      ORDER BY resid ASC NULLS LAST, day ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM r
        |), med AS (
        |  SELECT
        |    CAST(SUM(CAST(resid AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
        |      AS med
        |  FROM r1 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        |), dv AS (
        |  SELECT day, resid, med, abs(resid - med) AS adev
        |  FROM r, med
        |), r2 AS (
        |  SELECT day, adev,
        |    row_number() OVER (
        |      ORDER BY adev ASC NULLS LAST, day ASC NULLS LAST) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM dv
        |), mad AS (
        |  SELECT
        |    CAST(SUM(CAST(adev AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
        |      AS mad
        |  FROM r2 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        |)
        |SELECT dv.day, dv.resid, dv.med, m.mad, dv.adev,
        |  dv.adev > m.mad * 3 AS is_anomaly
        |FROM dv, mad m
        |ORDER BY dv.day ASC NULLS LAST""".stripMargin,

    "q_gap_stats" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts) ASC NULLS LAST,
        |        event_id ASC NULLS LAST) AS gap
        |  FROM events
        |)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
        |  CAST(CAST(SUM(gap) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS mean_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id ASC NULLS LAST""".stripMargin,

    // list() over the same ROWS frame, lower median by 1-based
    // subscript; (n+1)//2 is Spark's (n+1) DIV 2.
    "q_window_rolling_median" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC NULLS LAST,
        |        event_id ASC NULLS LAST
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT user_id, event_id, tsu,
        |  CAST(len(vals) AS BIGINT) AS n_window,
        |  list_sort(vals)[(len(vals) + 1) // 2] AS roll_med
        |FROM ev
        |ORDER BY user_id ASC NULLS LAST, tsu ASC NULLS LAST,
        |  event_id ASC NULLS LAST""".stripMargin,

    // Same frame lists; the MAD is the identical lambda-transform sort
    // and the flag repeats the 3·1.4826 literal tree.
    "q_window_hampel" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC NULLS LAST,
        |        event_id ASC NULLS LAST
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events WHERE value IS NOT NULL
        |), m AS (
        |  SELECT *, list_sort(vals)[(len(vals) + 1) // 2] AS med
        |  FROM ev
        |), d AS (
        |  SELECT *, list_sort(list_transform(vals,
        |    v -> abs(v - med)))[(len(vals) + 1) // 2] AS mad
        |  FROM m
        |)
        |SELECT user_id, event_id, tsu, med, mad,
        |  abs(value - med) > 3.0 * 1.4826 * mad AS is_outlier
        |FROM d
        |ORDER BY user_id ASC NULLS LAST, tsu ASC NULLS LAST,
        |  event_id ASC NULLS LAST""".stripMargin,

    // States the trailing window directly as a bounded range join —
    // exact by construction; the Spark side's ×7 explode is the
    // distributed rewrite of the same predicate.
    "q_rolling_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM du
        |)
        |SELECT d.day, COUNT(DISTINCT du.user_id) AS n_users
        |FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day
        |ORDER BY d.day ASC NULLS LAST""".stripMargin,

    // Same centered-integer series per type; HUGEINT mirrors
    // DECIMAL(38,0) and num/dx/dy VARCHAR-route per §7.4 before the
    // identical 4-op IEEE tree.
    "q_ts_ccf" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY CAST(ts AS DATE)
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
        |  FROM daily
        |), cent AS (
        |  SELECT day, x * nd - sx AS cx, y * nd - sy AS cy
        |  FROM daily, tot
        |), den AS (
        |  SELECT SUM(CAST(cx AS HUGEINT) * CAST(cx AS HUGEINT)) AS dx,
        |    SUM(CAST(cy AS HUGEINT) * CAST(cy AS HUGEINT)) AS dy
        |  FROM cent
        |), lp AS (
        |  SELECT a.cx, b.cy, l.lag
        |  FROM cent a
        |  CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) l
        |  JOIN cent b ON b.day = a.day + CAST(l.lag AS INTEGER)
        |), ag AS (
        |  SELECT CAST(lag AS BIGINT) AS lag,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(CAST(cx AS HUGEINT) * CAST(cy AS HUGEINT)) AS num
        |  FROM lp GROUP BY lag
        |)
        |SELECT lag, n_pairs, CAST(num AS VARCHAR) AS num_str,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    * CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    * CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS DOUBLE)
        |    / (CAST(CAST(dx AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(dy AS VARCHAR) AS DOUBLE)) AS r2_signed
        |FROM ag, den ORDER BY lag ASC NULLS LAST""".stripMargin,

    // Same scaled-integer centering (cx = x·n − S); the one division is
    // the only IEEE op on either engine.
    "q_ts_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx FROM daily
        |), cent AS (
        |  SELECT day, CAST(x * nd - sx AS BIGINT) AS cx FROM daily, tot
        |), den AS (
        |  SELECT CAST(SUM(cx * cx) AS BIGINT) AS den FROM cent
        |), ks AS (SELECT UNNEST(range(1, 8)) AS lag)
        |SELECT CAST(k.lag AS BIGINT) AS lag, COUNT(*) AS n_pairs,
        |  CAST(CAST(SUM(c1.cx * c2.cx) AS BIGINT) AS DOUBLE)
        |    / CAST(d.den AS DOUBLE) AS acf
        |FROM cent c1
        |CROSS JOIN ks k
        |JOIN cent c2 ON c2.day = c1.day + CAST(k.lag AS INT)
        |CROSS JOIN den d
        |GROUP BY k.lag, d.den
        |ORDER BY lag ASC NULLS LAST""".stripMargin,

    // Same exact-decimal centering (dev = cum·n − t·S); argmax and the
    // earliest-day tie-break compare exact decimals, the division by n
    // runs after the max with the VARCHAR-routed double cast.
    // The cusum CTE skeleton with the split-score readout; decimal
    // prefix/segment sums route to DOUBLE via VARCHAR (Det.sqlDsum
    // rationale) and the score repeats Spark's exact operand tree.
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS s
        |  FROM events GROUP BY 1
        |), tot AS (SELECT COUNT(*) AS nd, SUM(s) AS stot FROM daily),
        |c AS (
        |  SELECT day,
        |    ROW_NUMBER() OVER (ORDER BY day ASC NULLS LAST) AS t,
        |    SUM(s) OVER (ORDER BY day ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
        |  FROM daily
        |)
        |SELECT day AS split_day, t AS n_left,
        |  (SELECT nd FROM tot) - t AS n_right,
        |  CAST(CAST(cl AS VARCHAR) AS DOUBLE)
        |    * CAST(CAST(cl AS VARCHAR) AS DOUBLE) / t
        |  + CAST(CAST((SELECT stot FROM tot) - cl AS VARCHAR) AS DOUBLE)
        |    * CAST(CAST((SELECT stot FROM tot) - cl AS VARCHAR) AS DOUBLE)
        |    / ((SELECT nd FROM tot) - t) AS score
        |FROM c WHERE t < (SELECT nd FROM tot)
        |ORDER BY split_day ASC NULLS LAST""".stripMargin,

    "q_ts_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS s
        |  FROM events GROUP BY 1
        |), tot AS (SELECT COUNT(*) AS nd, SUM(s) AS stot FROM daily),
        |c AS (
        |  SELECT day,
        |    ROW_NUMBER() OVER (ORDER BY day ASC NULLS LAST) AS t,
        |    SUM(s) OVER (ORDER BY day ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily
        |), dev AS (
        |  SELECT day,
        |    abs(CAST(cum AS DECIMAL(18,4)) * CAST(nd AS DECIMAL(6,0))
        |      - CAST(t AS DECIMAL(6,0)) * CAST(stot AS DECIMAL(18,4)))
        |      AS dev,
        |    nd FROM c, tot
        |), m AS (SELECT MAX(dev) AS mdev FROM dev)
        |SELECT MIN(day) AS day_star, CAST(MAX(nd) AS BIGINT) AS n_days,
        |  CAST(CAST(MAX(mdev) AS VARCHAR) AS DOUBLE)
        |    / CAST(MAX(nd) AS DOUBLE) AS cusum_stat
        |FROM dev, m WHERE dev = mdev""".stripMargin,

    // Same dyadic weights: every term and partial sum is exact, so the
    // two engines agree bit-for-bit with no rounding and no routing.
    "q_ts_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2
        |), ks AS (SELECT UNNEST(range(0, 16)) AS k),
        |contrib AS (
        |  SELECT d.event_type, d.day + CAST(ks.k AS INT) AS day2,
        |    SUM(d.x / CAST(1::BIGINT << CAST(ks.k + 1 AS INT)
        |      AS DOUBLE)) AS num,
        |    SUM(CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE)) AS wsum
        |  FROM daily d CROSS JOIN ks
        |  GROUP BY 1, 2
        |)
        |SELECT t.event_type, t.day, t.x, c.num / c.wsum AS ewma
        |FROM daily t JOIN contrib c
        |  ON c.event_type = t.event_type AND c.day2 = t.day
        |ORDER BY t.event_type ASC NULLS LAST, t.day ASC NULLS LAST""".stripMargin,

    // Same exact-dyadic weights with the x² sum added; the variance and
    // sqrt trees repeat the Spark text verbatim.
    "q_ts_ewm_var" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2
        |), ks AS (SELECT UNNEST(range(0, 16)) AS k),
        |contrib AS (
        |  SELECT d.event_type, d.day + CAST(ks.k AS INT) AS day2,
        |    SUM(d.x * (CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE))) AS num,
        |    SUM(d.x * d.x * (CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE))) AS num2,
        |    SUM(CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE)) AS wsum
        |  FROM daily d CROSS JOIN ks
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT t.event_type, t.day, t.x,
        |    c.num / c.wsum AS ewma,
        |    c.num2 / c.wsum - (c.num / c.wsum) * (c.num / c.wsum)
        |      AS ewm_var
        |  FROM daily t JOIN contrib c
        |    ON c.event_type = t.event_type AND c.day2 = t.day
        |)
        |SELECT event_type, day, x, ewma, ewm_var,
        |  sqrt(greatest(ewm_var, CAST(0 AS DOUBLE))) AS ewm_std
        |FROM j
        |ORDER BY event_type ASC NULLS LAST, day ASC NULLS LAST""".stripMargin,

    // Same dyadic contribution CTE shifted one day forward (k + 1), the
    // verbatim z/3σ trees, one per-type fold.
    "q_ts_control_chart" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2
        |), ks AS (SELECT UNNEST(range(0, 16)) AS k),
        |contrib AS (
        |  SELECT d.event_type, d.day + CAST(ks.k + 1 AS INT) AS day2,
        |    SUM(d.x * (CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE))) AS num,
        |    SUM(d.x * d.x * (CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE))) AS num2,
        |    SUM(CAST(1 AS DOUBLE) / CAST(1::BIGINT
        |      << CAST(ks.k + 1 AS INT) AS DOUBLE)) AS wsum
        |  FROM daily d CROSS JOIN ks
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT t.event_type, t.x,
        |    c.num / c.wsum AS ewma,
        |    sqrt(greatest(c.num2 / c.wsum
        |      - (c.num / c.wsum) * (c.num / c.wsum),
        |      CAST(0 AS DOUBLE))) AS sd
        |  FROM daily t JOIN contrib c
        |    ON c.event_type = t.event_type AND c.day2 = t.day
        |), z AS (
        |  SELECT event_type,
        |    CASE WHEN sd > CAST(0 AS DOUBLE) THEN
        |      (CAST(x AS DOUBLE) - ewma) / sd END AS z
        |  FROM j
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN abs(z) > CAST(3 AS DOUBLE) THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_flagged,
        |  MAX(abs(z)) AS max_abs_z
        |FROM z GROUP BY event_type
        |ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // Same pre-scaled integer residual grid ((sv·10⁴)·nd − S·10⁴ in
    // HUGEINT = Spark's DECIMAL(38,0)), one partitioned lag window over
    // the day-grain frame, VARCHAR-routed quadratic forms, one division.
    "q_stats_durbin_watson" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, COUNT(*) AS nd, SUM(sv) AS stot
        |  FROM daily GROUP BY 1
        |), r AS (
        |  SELECT d.event_type, d.day, t.nd,
        |    CAST(CAST(d.sv AS DECIMAL(18,4)) * 10000 AS HUGEINT) * t.nd
        |      - CAST(CAST(t.stot AS DECIMAL(18,4)) * 10000 AS HUGEINT)
        |      AS rr
        |  FROM daily d JOIN tot t ON t.event_type = d.event_type
        |), lagged AS (
        |  SELECT event_type, nd, rr,
        |    lag(rr) OVER (PARTITION BY event_type
        |      ORDER BY day ASC NULLS LAST) AS rlag
        |  FROM r
        |), a AS (
        |  SELECT event_type, MAX(nd) AS n_days,
        |    SUM(rr * rr) AS den,
        |    SUM(CASE WHEN rlag IS NULL THEN 0
        |      ELSE (rr - rlag) * (rr - rlag) END) AS num
        |  FROM lagged GROUP BY event_type
        |)
        |SELECT event_type, n_days,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS dw_stat
        |FROM a ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // The autocorr integer grid folded onto the common denominator
    // den²·P: P and the per-lag P_k = Π_{j≠k}(n−j) are exclusion
    // PRODUCTS of HUGEINT-cast factors (lbFull/lbExcl — the identical
    // generated text the Spark side uses with DECIMAL(38,0)), so
    // nothing transits BIGINT; one trailing VARCHAR-routed division.
    "q_ts_ljung_box" ->
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx FROM daily
        |), cent AS (
        |  SELECT day, nd, CAST(x * nd - sx AS BIGINT) AS cx
        |  FROM daily, tot
        |), den AS (
        |  SELECT CAST(SUM(cx * cx) AS BIGINT) AS den FROM cent
        |), ks AS (SELECT UNNEST(range(1, 8)) AS lag),
        |lp AS (
        |  SELECT CAST(k.lag AS BIGINT) AS lag, c1.nd,
        |    CAST(SUM(c1.cx * c2.cx) AS BIGINT) AS num
        |  FROM cent c1 CROSS JOIN ks k
        |  JOIN cent c2 ON c2.day = c1.day + CAST(k.lag AS INT)
        |  GROUP BY k.lag, c1.nd
        |), pc AS (
        |  SELECT lag, nd, num,
        |    ${lbFull("HUGEINT")} AS p_all
        |  FROM lp
        |), s AS (
        |  SELECT MAX(nd) AS nd, MAX(p_all) AS p_all,
        |    COUNT(*) AS n_lags,
        |    SUM(CAST(num AS HUGEINT) * CAST(num AS HUGEINT)
        |      * CAST(${lbExcl("HUGEINT")} AS HUGEINT)) AS s_sum
        |  FROM pc
        |)
        |SELECT s.nd AS n_days, s.n_lags,
        |  CAST(CAST(CAST(s.nd AS HUGEINT) * CAST(s.nd + 2 AS HUGEINT)
        |    * s.s_sum AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(d.den AS HUGEINT) * CAST(d.den AS HUGEINT)
        |    * CAST(s.p_all AS HUGEINT) AS VARCHAR) AS DOUBLE) AS q_stat
        |FROM s, den d""".stripMargin,

    // The autocorr CTEs verbatim plus the band/flag columns.
    "q_ts_acf_bands" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx FROM daily
        |), cent AS (
        |  SELECT day, nd, CAST(x * nd - sx AS BIGINT) AS cx
        |  FROM daily, tot
        |), den AS (
        |  SELECT CAST(SUM(cx * cx) AS BIGINT) AS den FROM cent
        |), ks AS (SELECT UNNEST(range(1, 8)) AS lag),
        |lp AS (
        |  SELECT CAST(k.lag AS BIGINT) AS lag, c1.nd,
        |    COUNT(*) AS n_pairs,
        |    CAST(SUM(c1.cx * c2.cx) AS BIGINT) AS num
        |  FROM cent c1 CROSS JOIN ks k
        |  JOIN cent c2 ON c2.day = c1.day + CAST(k.lag AS INT)
        |  GROUP BY k.lag, c1.nd
        |), r AS (
        |  SELECT lag, n_pairs,
        |    CAST(num AS DOUBLE) / CAST(d.den AS DOUBLE) AS acf,
        |    1.96 / sqrt(CAST(nd AS DOUBLE)) AS band
        |  FROM lp, den d
        |)
        |SELECT lag, n_pairs, acf, band, abs(acf) > band AS significant
        |FROM r ORDER BY lag ASC NULLS LAST""".stripMargin,

    // Same pre-scaled centered grid (the DW residuals), two partitioned
    // prefix windows, exact subtraction, verbatim un-scaling division.
    "q_ts_max_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, COUNT(*) AS nd, SUM(sv) AS stot
        |  FROM daily GROUP BY 1
        |), r AS (
        |  SELECT d.event_type, d.day, t.nd,
        |    CAST(CAST(d.sv AS DECIMAL(18,4)) * 10000 AS HUGEINT)
        |      * t.nd
        |      - CAST(CAST(t.stot AS DECIMAL(18,4)) * 10000 AS HUGEINT)
        |      AS rr
        |  FROM daily d JOIN tot t ON t.event_type = d.event_type
        |), c1 AS (
        |  SELECT event_type, nd, day,
        |    SUM(rr) OVER (PARTITION BY event_type
        |      ORDER BY day ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM r
        |), c AS (
        |  SELECT event_type, nd, cum,
        |    MAX(cum) OVER (PARTITION BY event_type
        |      ORDER BY day ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS peak
        |  FROM c1
        |), a AS (
        |  SELECT event_type, MAX(nd) AS n_days,
        |    MAX(peak - cum) AS max_dd_x
        |  FROM c GROUP BY 1
        |)
        |SELECT event_type, n_days,
        |  CAST(CAST(max_dd_x AS VARCHAR) AS DOUBLE)
        |    / (CAST(10000 AS DOUBLE) * CAST(n_days AS DOUBLE))
        |    AS max_drawdown
        |FROM a ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // Same type-partitioned lag grid; Σg² in HUGEINT, both readouts
    // verbatim single divisions.
    "q_event_interarrival" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS tsu FROM events
        |), g AS (
        |  SELECT event_type, tsu - lag(tsu, 1) OVER (
        |    PARTITION BY event_type
        |    ORDER BY tsu ASC NULLS LAST, event_id ASC NULLS LAST)
        |    AS gap
        |  FROM ev
        |), a AS (
        |  SELECT event_type, COUNT(*) AS n_gaps,
        |    CAST(SUM(gap) AS BIGINT) AS sg,
        |    SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sgg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1
        |)
        |SELECT event_type, n_gaps, sg,
        |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
        |  CAST(CAST(CAST(n_gaps AS HUGEINT) * sgg
        |    - CAST(sg AS HUGEINT) * CAST(sg AS HUGEINT) AS VARCHAR)
        |    AS DOUBLE)
        |  / CAST(CAST(CAST(sg AS HUGEINT) * CAST(sg AS HUGEINT)
        |    AS VARCHAR) AS DOUBLE) AS cv2
        |FROM a ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // Same calendar-neighbor triple joins and strict-inequality count;
    // the z tree divides exact integers once.
    "q_ts_turning_points" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2
        |), trip AS (
        |  SELECT c.event_type, c.x, p.x AS xp, n.x AS xn
        |  FROM daily c
        |  JOIN daily p ON p.event_type = c.event_type
        |    AND p.day = c.day - 1
        |  JOIN daily n ON n.event_type = c.event_type
        |    AND n.day = c.day + 1
        |), a AS (
        |  SELECT event_type, COUNT(*) AS n_triples,
        |    CAST(SUM(CASE WHEN (xp < x AND xn < x)
        |      OR (xp > x AND xn > x) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS turning
        |  FROM trip GROUP BY event_type
        |)
        |SELECT event_type, n_triples, turning,
        |  CAST(3 * turning - 2 * n_triples AS DOUBLE)
        |    / sqrt(CAST(16 * (n_triples + 2) - 29 AS DOUBLE) / 10.0)
        |    AS z_stat
        |FROM a ORDER BY event_type ASC NULLS LAST""".stripMargin,

    // Same centered integer grid, calendar day index, and verbatim CASE
    // coefficient tables; HUGEINT squares, one normalization division.
    "q_ts_periodogram" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    MIN(day) AS d0
        |  FROM daily
        |), cent AS (
        |  SELECT nd, CAST(x * nd - sx AS BIGINT) AS cx,
        |    CAST(datediff('day', d0, day) AS BIGINT) AS tt
        |  FROM daily, tot
        |), den AS (
        |  SELECT CAST(SUM(cx * cx) AS BIGINT) AS den FROM cent
        |), ks AS (SELECT UNNEST([2, 3, 4, 6]) AS period),
        |co AS (
        |  SELECT CAST(k.period AS BIGINT) AS period, c.nd, c.cx,
        |    c.tt % k.period AS m
        |  FROM cent c CROSS JOIN ks k
        |), cf AS (
        |  SELECT period, nd, cx,
        |    CASE WHEN period = 2 THEN
        |      (CASE WHEN m = 0 THEN 2 ELSE -2 END)
        |    WHEN period = 3 THEN
        |      (CASE WHEN m = 0 THEN 2 ELSE -1 END)
        |    WHEN period = 4 THEN
        |      (CASE WHEN m = 0 THEN 2 WHEN m = 2 THEN -2 ELSE 0 END)
        |    ELSE (CASE WHEN m = 0 THEN 2 WHEN m = 3 THEN -2
        |      WHEN m = 1 OR m = 5 THEN 1 ELSE -1 END) END AS c2,
        |    CASE WHEN period = 2 THEN 0
        |    WHEN period = 3 THEN
        |      (CASE WHEN m = 0 THEN 0 WHEN m = 1 THEN 1 ELSE -1 END)
        |    WHEN period = 4 THEN
        |      (CASE WHEN m = 1 THEN 2 WHEN m = 3 THEN -2 ELSE 0 END)
        |    ELSE (CASE WHEN m = 0 OR m = 3 THEN 0
        |      WHEN m = 1 OR m = 2 THEN 1 ELSE -1 END) END AS s2
        |  FROM co
        |), ag AS (
        |  SELECT period, MAX(nd) AS n_days,
        |    CAST(SUM(cx * c2) AS BIGINT) AS ca,
        |    CAST(SUM(cx * s2) AS BIGINT) AS sa
        |  FROM cf GROUP BY period
        |), pw AS (
        |  SELECT period, n_days,
        |    CAST(ca AS HUGEINT) * CAST(ca AS HUGEINT)
        |      + CAST(CASE WHEN period = 3 OR period = 6
        |        THEN 3 ELSE 1 END AS HUGEINT)
        |      * CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS power4
        |  FROM ag
        |)
        |SELECT p.period, p.n_days,
        |  CAST(p.power4 AS VARCHAR) AS power4,
        |  CAST(CAST(p.power4 AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(d.den AS VARCHAR) AS DOUBLE) AS score
        |FROM pw p, den d
        |ORDER BY period ASC NULLS LAST""".stripMargin,

    // Same w-scaled integer R/S machinery (day re-index, per-(w,widx)
    // running sums, greatest/least against the implicit Y₀=0), the
    // identical quantize→integer-mean assembly; the bank derives from
    // the day count in SQL (bit-length = the Spark driver literal's
    // numberOfLeadingZeros form), and the least-squares slope uses the
    // same integer moments over per-w 1e-10-quantized log2 terms.
    "q_ts_hurst" ->
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), nd AS (
        |  SELECT COUNT(*) AS n_days FROM daily
        |), bank AS (
        |  SELECT CAST(CAST(1 AS BIGINT) << CAST(g.i AS INT) AS BIGINT)
        |    AS w
        |  FROM nd, (SELECT UNNEST(range(2, 63)) AS i) g
        |  WHERE g.i <= GREATEST(4, length(bin(nd.n_days // 2)) - 1)
        |), idx AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT)
        |    - 1 AS idx, x
        |  FROM daily
        |), ws AS (
        |  SELECT i.idx, i.x, k.w,
        |    i.idx // k.w AS widx,
        |    i.idx % k.w AS j
        |  FROM idx i CROSS JOIN bank k
        |), cum AS (
        |  SELECT w, widx, j, CAST(SUM(x) OVER (PARTITION BY w, widx
        |    ORDER BY j ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cx
        |  FROM ws
        |), tot AS (
        |  SELECT w, widx, COUNT(*) AS cnt, CAST(SUM(x) AS BIGINT) AS sw,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM ws GROUP BY 1, 2
        |), dev AS (
        |  SELECT c.w, c.widx, t.cnt, t.sw AS swx, t.sxx AS sxxx,
        |    CAST(c.w * c.cx - (c.j + 1) * t.sw AS BIGINT) AS wy
        |  FROM cum c JOIN tot t ON t.w = c.w AND t.widx = c.widx
        |  WHERE t.cnt = c.w AND t.cnt * t.sxx
        |    - CAST(t.sw AS HUGEINT) * CAST(t.sw AS HUGEINT) > 0
        |), rs AS (
        |  SELECT w, widx, MAX(wy) AS maxy, MIN(wy) AS miny,
        |    MAX(swx) AS swx, MAX(sxxx) AS sxxx, MAX(cnt) AS cnt
        |  FROM dev GROUP BY 1, 2
        |), q AS (
        |  SELECT w, CAST(floor(
        |    (CAST(greatest(maxy, CAST(0 AS BIGINT))
        |      - least(miny, CAST(0 AS BIGINT)) AS DOUBLE)
        |     / sqrt(CAST(CAST(cnt * sxxx - CAST(swx AS HUGEINT)
        |       * CAST(swx AS HUGEINT) AS VARCHAR) AS DOUBLE)))
        |    * CAST(10000000000 AS DOUBLE)
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qrs
        |  FROM rs
        |), mq AS (
        |  SELECT w, COUNT(*) AS nw, CAST(SUM(qrs) AS BIGINT) AS sq
        |  FROM q GROUP BY w
        |), qmq AS (
        |  SELECT w, nw, CAST(floor(CAST(sq AS DOUBLE)
        |    / CAST(nw AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qm
        |  FROM mq
        |), lg AS (
        |  SELECT w, nw, qm,
        |    CAST(length(bin(w)) - 1 AS BIGINT) AS i,
        |    ${Det.sqlPlog2Cols("qm", "h")}
        |  FROM qmq
        |), terms AS (
        |  SELECT w, nw, qm, i,
        |    CAST(floor(hl2 * CAST(10000000000 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ql
        |  FROM lg
        |), mom AS (
        |  SELECT COUNT(*) AS b, CAST(MAX(w) AS BIGINT) AS w_max,
        |    CAST(SUM(i) AS BIGINT) AS si,
        |    CAST(SUM(i * i) AS BIGINT) AS sii,
        |    CAST(SUM(ql) AS BIGINT) AS sl,
        |    CAST(SUM(i * ql) AS BIGINT) AS sil,
        |    min_by(qm, w) AS qm_min, max_by(qm, w) AS qm_max,
        |    CAST(SUM(nw) AS BIGINT) AS nw_total
        |  FROM terms
        |)
        |SELECT (SELECT n_days FROM nd) AS n_days,
        |  b AS n_bank, w_max, nw_total,
        |  CAST(qm_min AS DOUBLE) / CAST(10000000000 AS DOUBLE)
        |    AS rs_wmin,
        |  CAST(qm_max AS DOUBLE) / CAST(10000000000 AS DOUBLE)
        |    AS rs_wmax,
        |  CASE WHEN b >= 2 THEN
        |    CAST(b * sil - si * sl AS DOUBLE)
        |    / CAST(b * sii - si * si AS DOUBLE)
        |    / CAST(10000000000 AS DOUBLE) END AS hurst
        |FROM mom""".stripMargin,

    // Same day re-index + lead frame, the same integer tolerance and
    // pair counts, the identical two-chain (log2B − log2A)·ln2 text.
    "q_ts_sample_entropy" ->
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), p AS (
        |  SELECT COUNT(*) AS n_days,
        |    greatest(CAST(SUM(x) AS BIGINT)
        |      // greatest(5 * COUNT(*), CAST(1 AS BIGINT)),
        |      CAST(1 AS BIGINT)) AS r
        |  FROM daily
        |), f AS (
        |  SELECT idx, x, xn FROM (
        |    SELECT CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT)
        |      - 1 AS idx, x,
        |      lead(x, 1) OVER (ORDER BY day ASC) AS xn
        |    FROM daily)
        |  WHERE xn IS NOT NULL
        |), cnts AS (
        |  SELECT MAX(p.n_days) AS n_days, MAX(p.r) AS r,
        |    COUNT(CASE WHEN abs(a.x - b.x) <= p.r THEN 1 END)
        |      AS b_pairs,
        |    COUNT(CASE WHEN abs(a.x - b.x) <= p.r
        |      AND abs(a.xn - b.xn) <= p.r THEN 1 END) AS a_pairs
        |  FROM f a, f b, p WHERE a.idx < b.idx
        |), z AS (
        |  SELECT *, greatest(b_pairs, CAST(1 AS BIGINT)) AS bz,
        |    greatest(a_pairs, CAST(1 AS BIGINT)) AS az
        |  FROM cnts
        |), lb AS (SELECT *, ${Det.sqlPlog2Cols("bz", "b")} FROM z),
        |la AS (SELECT *, ${Det.sqlPlog2Cols("az", "a")} FROM lb)
        |SELECT n_days, r, b_pairs, a_pairs,
        |  CASE WHEN a_pairs > 0 AND b_pairs > 0 THEN
        |    (bl2 - al2) * CAST(0.6931471805599453 AS DOUBLE) END
        |    AS sampen
        |FROM la""".stripMargin,

    // The same day-pair equi-join; exact HUGEINT moments, the n-scaled
    // centered pieces VARCHAR-routed, the verbatim normal-equation and
    // F trees.
    "q_ts_granger" -> {
      def cs(spq: String, sa: String, sb: String): String =
        s"CAST(CAST(CAST(n AS HUGEINT) * $spq - CAST($sa AS HUGEINT) " +
          s"* CAST($sb AS HUGEINT) AS VARCHAR) AS DOUBLE)"
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1
        |), pr AS (
        |  SELECT d1.p AS z1, d1.c AS z2, d2.p AS y
        |  FROM daily d1 JOIN daily d2 ON d2.day = d1.day + 1
        |), mom AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(z1) AS BIGINT) AS s1,
        |    CAST(SUM(z2) AS BIGINT) AS s2,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(z1 AS HUGEINT) * CAST(z1 AS HUGEINT)) AS s11,
        |    SUM(CAST(z2 AS HUGEINT) * CAST(z2 AS HUGEINT)) AS s22,
        |    SUM(CAST(z1 AS HUGEINT) * CAST(z2 AS HUGEINT)) AS s12,
        |    SUM(CAST(z1 AS HUGEINT) * CAST(y AS HUGEINT)) AS s1y,
        |    SUM(CAST(z2 AS HUGEINT) * CAST(y AS HUGEINT)) AS s2y,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM pr
        |), ctr AS (
        |  SELECT n,
        |    ${cs("s11", "s1", "s1")} AS c11,
        |    ${cs("s22", "s2", "s2")} AS c22,
        |    ${cs("s12", "s1", "s2")} AS c12,
        |    ${cs("s1y", "s1", "sy")} AS c1y,
        |    ${cs("s2y", "s2", "sy")} AS c2y,
        |    ${cs("syy", "sy", "sy")} AS cyy
        |  FROM mom
        |), sol AS (
        |  SELECT *, c11 * c22 - c12 * c12 AS dd FROM ctr
        |), fit AS (
        |  SELECT *,
        |    CASE WHEN dd > 0
        |      THEN (c22 * c1y - c12 * c2y) / dd END AS beta,
        |    CASE WHEN dd > 0
        |      THEN (c11 * c2y - c12 * c1y) / dd END AS gamma
        |  FROM sol
        |), sse AS (
        |  SELECT *,
        |    CASE WHEN dd > 0
        |      THEN cyy - beta * c1y - gamma * c2y END AS nsse_u,
        |    CASE WHEN c11 > 0 THEN cyy - c1y * c1y / c11 END AS nsse_r
        |  FROM fit
        |)
        |SELECT n, beta, gamma, nsse_r, nsse_u,
        |  CASE WHEN dd > 0 AND c11 > 0 AND n > 3 AND nsse_u > 0
        |    THEN (nsse_r - nsse_u)
        |    / (nsse_u / CAST(n - 3 AS DOUBLE)) END AS f_granger
        |FROM sse""".stripMargin
    },

    // The autocorr day-pair join as the OLS sample; exact HUGEINT
    // moments with operand-first casts, the identical VARCHAR-routed
    // β/α/SSE/t tree.
    "q_ts_adf" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), p AS (
        |  SELECT d1.x AS z, d2.x - d1.x AS y
        |  FROM daily d1
        |  JOIN daily d2 ON d2.day = d1.day + 1
        |), mom AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(z AS HUGEINT) * CAST(y AS HUGEINT)) AS szy,
        |    SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM p
        |), b AS (
        |  SELECT n, sz, sy, szy, szz, syy,
        |    (CAST(n AS DOUBLE) * CAST(CAST(szy AS VARCHAR) AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(CAST(szz AS VARCHAR) AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) AS beta
        |  FROM mom
        |), a AS (
        |  SELECT *, (CAST(sy AS DOUBLE) - beta * CAST(sz AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS alpha
        |  FROM b
        |), e AS (
        |  SELECT *, CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |    - alpha * CAST(sy AS DOUBLE)
        |    - beta * CAST(CAST(szy AS VARCHAR) AS DOUBLE) AS sse
        |  FROM a
        |)
        |SELECT n AS n_pairs, beta, alpha,
        |  beta / sqrt((sse / CAST(n - 2 AS DOUBLE))
        |    * CAST(n AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(CAST(szz AS VARCHAR) AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS t_stat
        |FROM e""".stripMargin,

    // The periodogram CTEs, downshifted by the shared integer divisor,
    // then the q_event_entropy portable-log2 chain on a 4-row frame.
    "q_ts_spectral_entropy" ->
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    MIN(day) AS d0
        |  FROM daily
        |), cent AS (
        |  SELECT nd, CAST(x * nd - sx AS BIGINT) AS cx,
        |    CAST(datediff('day', d0, day) AS BIGINT) AS tt
        |  FROM daily, tot
        |), ks AS (SELECT UNNEST([2, 3, 4, 6]) AS period),
        |co AS (
        |  SELECT CAST(k.period AS BIGINT) AS period, c.cx,
        |    c.tt % k.period AS m
        |  FROM cent c CROSS JOIN ks k
        |), cf AS (
        |  SELECT period, cx,
        |    CASE WHEN period = 2 THEN
        |      (CASE WHEN m = 0 THEN 2 ELSE -2 END)
        |    WHEN period = 3 THEN
        |      (CASE WHEN m = 0 THEN 2 ELSE -1 END)
        |    WHEN period = 4 THEN
        |      (CASE WHEN m = 0 THEN 2 WHEN m = 2 THEN -2 ELSE 0 END)
        |    ELSE (CASE WHEN m = 0 THEN 2 WHEN m = 3 THEN -2
        |      WHEN m = 1 OR m = 5 THEN 1 ELSE -1 END) END AS c2,
        |    CASE WHEN period = 2 THEN 0
        |    WHEN period = 3 THEN
        |      (CASE WHEN m = 0 THEN 0 WHEN m = 1 THEN 1 ELSE -1 END)
        |    WHEN period = 4 THEN
        |      (CASE WHEN m = 1 THEN 2 WHEN m = 3 THEN -2 ELSE 0 END)
        |    ELSE (CASE WHEN m = 0 OR m = 3 THEN 0
        |      WHEN m = 1 OR m = 2 THEN 1 ELSE -1 END) END AS s2
        |  FROM co
        |), ag AS (
        |  SELECT period,
        |    CAST(SUM(cx * c2) AS BIGINT) AS ca,
        |    CAST(SUM(cx * s2) AS BIGINT) AS sa
        |  FROM cf GROUP BY period
        |), pw AS (
        |  SELECT period,
        |    CAST(ca AS HUGEINT) * CAST(ca AS HUGEINT)
        |      + CAST(CASE WHEN period = 3 OR period = 6
        |        THEN 3 ELSE 1 END AS HUGEINT)
        |      * CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS p4
        |  FROM ag
        |), g AS (
        |  SELECT greatest(CAST(1 AS BIGINT),
        |    CAST(SUM(p4) // CAST(10000000 AS HUGEINT) AS BIGINT))
        |    AS g
        |  FROM pw
        |), q AS (
        |  SELECT CAST(p4 // CAST(g AS HUGEINT) AS BIGINT) AS qk
        |  FROM pw, g
        |  WHERE CAST(p4 // CAST(g AS HUGEINT) AS BIGINT) > 0
        |), terms AS (
        |  SELECT qk, ${Det.sqlPlog2Cols("qk", "k")}
        |  FROM q
        |), st AS (
        |  SELECT COUNT(*) AS n_periods, CAST(SUM(qk) AS BIGINT) AS qt,
        |    CAST(SUM(CAST(floor(CAST(qk AS DOUBLE) * kl2
        |      * CAST(10000000000 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS st
        |  FROM terms
        |), fin AS (
        |  SELECT n_periods, qt, st, ${Det.sqlPlog2Cols("qt", "t")}
        |  FROM st
        |)
        |SELECT n_periods,
        |  tl2 - CAST(st AS DOUBLE) / CAST(10000000000 AS DOUBLE)
        |    / CAST(qt AS DOUBLE) AS spectral_entropy_bits,
        |  (tl2 - CAST(st AS DOUBLE) / CAST(10000000000 AS DOUBLE)
        |    / CAST(qt AS DOUBLE)) / CAST(2 AS DOUBLE) AS flatness
        |FROM fin""".stripMargin,

    // Same integer ACF pieces gathered into one row by conditional
    // aggregation; the Durbin–Levinson φ22/φ33 trees repeat the Spark
    // withColumn chain verbatim (r1..r3 are the first IEEE ops).
    "q_ts_pacf" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx FROM daily
        |), cent AS (
        |  SELECT day, nd, CAST(x * nd - sx AS BIGINT) AS cx
        |  FROM daily, tot
        |), den AS (
        |  SELECT MAX(nd) AS n_days, CAST(SUM(cx * cx) AS BIGINT) AS den
        |  FROM cent
        |), ks AS (SELECT UNNEST(range(1, 4)) AS lag),
        |lp AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN k.lag = 1 THEN c1.cx * c2.cx ELSE 0 END)
        |      AS BIGINT) AS num1,
        |    CAST(SUM(CASE WHEN k.lag = 2 THEN c1.cx * c2.cx ELSE 0 END)
        |      AS BIGINT) AS num2,
        |    CAST(SUM(CASE WHEN k.lag = 3 THEN c1.cx * c2.cx ELSE 0 END)
        |      AS BIGINT) AS num3
        |  FROM cent c1 CROSS JOIN ks k
        |  JOIN cent c2 ON c2.day = c1.day + CAST(k.lag AS INT)
        |), rr AS (
        |  SELECT n_days,
        |    CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
        |    CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
        |    CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
        |  FROM lp, den
        |), p2 AS (
        |  SELECT *, r1 AS pacf1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS pacf2
        |  FROM rr
        |), p3 AS (
        |  SELECT *, r1 - pacf2 * r1 AS phi21 FROM p2
        |)
        |SELECT n_days, r1, r2, r3, pacf1, pacf2,
        |  (r3 - phi21 * r2 - pacf2 * r1)
        |    / (1.0 - phi21 * r1 - pacf2 * r2) AS pacf3
        |FROM p3""".stripMargin
  )
}
