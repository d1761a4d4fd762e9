package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys at cluster scale.
  *
  * AQE's skew-join splitting (on by default) handles most cases at
  * runtime; these helpers are for the declarative path when a key's
  * heat is known up front (the classic 100 TB failure mode: one user /
  * one null key holding 10% of the table pins a single reducer).
  *
  * Division of labor, demonstrated in SkewSpec: Spark 4 AQE splits the
  * skewed partition of a sort-merge/shuffled-hash JOIN at runtime with
  * no salt (the spec pins the `skew=true` node on the hot-key
  * fixture), so for plain equi-joins prefer doing NOTHING and letting
  * AQE decide from measured sizes. Manual salting still wins when:
  * (a) the hot side feeds an AGGREGATION — AQE's skew handling covers
  * joins only, a hot group in groupBy still lands on one reducer
  * ([[saltedCountSum]] is the fix); (b) the join is
  * broadcast-INELIGIBLE fact×fact but one side is replicable per salt
  * bucket ([[saltedJoin]] replicates it explicitly — AQE would split
  * the skewed partition but every split still probes the same
  * single-reducer build side when the other side is also keyed hot);
  * (c) the skew must be neutralized BEFORE a downstream stage
  * (window/distinct) that AQE cannot re-balance mid-stage.
  *
  * Both transforms are algebraic rewrites — results equal the unsalted
  * form exactly (aggregation uses order-insensitive combiners; the join
  * replicates the small side), verified by tests.
  */
object Skew {

  /** Two-phase salted aggregation: spread each group over `buckets`
    * partial groups, combine, then merge partials. `aggs` must be
    * decomposable (sum/count/min/max — anything with an associative,
    * commutative combine). Phase 1 shuffles on (key, salt) — no single
    * reducer sees a whole hot group. */
  def saltedCountSum(df: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(buckets)))
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_n"),
        graft.Det.exactSum(col(valueCol)).as("_s"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_n")).as("n"),
        sum(col("_s")).cast("double").as(s"sum_$valueCol"))
  }

  /** Skew-safe equi-join: replicate the (broadcastable) small side
    * `buckets` times and salt the big side's key, so a hot key's rows
    * spread over `buckets` tasks instead of one. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, buckets: Int = 16,
      joinType: String = "inner"): DataFrame = {
    // right/full would emit `buckets` copies of every unmatched
    // small-side replica — only big-side-preserving types are exact.
    require(Set("inner", "cross", "left", "leftouter", "leftsemi",
      "leftanti").contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin preserves only big-side join types, got $joinType")
    val saltedBig = big.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(buckets)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(broadcast(replicated),
        saltedBig(bigKey) === replicated(smallKey)
          && saltedBig("_salt") === replicated("_salt"),
        joinType)
      .drop("_salt")
  }

  /** Deterministic-but-spread salt expression for reuse. */
  def saltExpr(buckets: Int): Column =
    pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets))

  // Declared queries: the salted rewrites ARE algebraic identities, so
  // their oracles are the plain unsalted SQL — a green row proves the
  // whole salted path (salt → partial → merge / replicate → join)
  // produces exactly the unsalted answer, not just in unit tests.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_salted_agg" -> ((s, d) =>
      saltedCountSum(graft.Tables.table(s, d, "events"),
          Seq("event_type"), "value")
        .orderBy(asc_nulls_last("event_type"))),

    "q_skew_salted_join" -> ((s, d) =>
      saltedJoin(graft.Tables.table(s, d, "orders"),
          graft.Tables.table(s, d, "customer"),
          "o_custkey", "c_custkey")
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy(asc_nulls_last("o_orderkey"))),

    // Z-order (Morton) clustering audit — the multi-column layout
    // technique behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the
    // bits of two keys gives ONE sort order under which ranges of BOTH
    // keys stay spatially local, so file skipping works for predicates
    // on either column. The query computes the 32-bit interleaved
    // z-value of (orderkey, partkey) low 16 bits per lineitem row, then
    // audits locality per z-range bucket: each bucket's min/max span of
    // BOTH keys (narrow spans = the skipping win; a single-column sort
    // would leave the other key's span full-width). Pure integer bit
    // arithmetic, generated identically for both engines; one hash
    // aggregate into z-range buckets (2^18-wide cells).
    "q_layout_zorder" -> ((s, d) => {
      graft.Tables.table(s, d, "lineitem")
        .withColumn("zv", expr(zExpr("l_orderkey", "l_partkey")))
        .groupBy(expr("zv DIV 262144").cast("long").as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(expr("l_orderkey % 65536")).as("ok_min"),
          max(expr("l_orderkey % 65536")).as("ok_max"),
          min(expr("l_partkey % 65536")).as("pk_min"),
          max(expr("l_partkey % 65536")).as("pk_max"))
        .orderBy(asc_nulls_last("z_bucket"))
    }),

    // Key-skew profile — the diagnostic you run BEFORE choosing between
    // a plain shuffle join and the salted rewrites above: the exact
    // distribution of rows-per-key as a count-of-counts histogram, plus
    // each stratum's share of keys and of rows. Two chained hash
    // aggregations (key → count, count → n_keys) — both shuffles carry
    // only slim (key,count)/(count,n) rows, so the profile costs one
    // pass at any scale; the 1-row grand-total frame broadcasts back.
    // Shares are ONE IEEE division of exact BIGINTs each. A heavy tail
    // here (few keys holding a large row_share) is the signal to route
    // the join through saltedJoin / AQE skew handling.
    "q_skew_profile" -> ((s, d) => {
      val perKey = graft.Tables.table(s, d, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      val tot = broadcast(perKey
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"))
        .withColumn("_one", lit(1)))
      perKey.groupBy("c").agg(count(lit(1)).as("n_keys_c"))
        .withColumn("_one", lit(1)).join(tot, "_one")
        .select(col("c").as("rows_per_key"), col("n_keys_c"),
          (col("n_keys_c").cast("double") / col("n_keys"))
            .as("key_share"),
          ((col("c") * col("n_keys_c")).cast("double") / col("n_rows"))
            .as("row_share"))
        .orderBy(asc_nulls_last("rows_per_key"))
    })
  )

  /** 32-bit Morton interleave of the low 16 bits of two BIGINT columns:
    * bit i of x lands at position 2i, bit i of y at 2i+1 — generated as
    * a 32-term integer sum so the SAME text runs on Spark and DuckDB
    * (both: >> & << on BIGINT). */
  def zExpr(x: String, y: String): String =
    // every term fully parenthesized: DuckDB binds + TIGHTER than <<,
    // so an unparenthesized `a << 0 + b << 1` chain becomes giant shifts
    (0 until 16).flatMap { i =>
      Seq(s"(((($x % 65536) >> $i) & 1) << ${2 * i})",
        s"(((($y % 65536) >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " + ", ")")

  val oracle: Map[String, String] = Map(
    "q_skew_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${graft.Det.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY event_type
         |ORDER BY event_type ASC NULLS LAST""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,

    // The identical generated Morton expression; // is DuckDB's DIV.
    "q_layout_zorder" ->
      s"""SELECT CAST(${zExpr("l_orderkey", "l_partkey")} // 262144
         |    AS BIGINT) AS z_bucket,
         |  COUNT(*) AS n_rows,
         |  min(l_orderkey % 65536) AS ok_min,
         |  max(l_orderkey % 65536) AS ok_max,
         |  min(l_partkey % 65536) AS pk_min,
         |  max(l_partkey % 65536) AS pk_max
         |FROM lineitem
         |GROUP BY 1
         |ORDER BY z_bucket ASC NULLS LAST""".stripMargin,

    "q_skew_profile" ->
      """WITH pk AS (
        |  SELECT l_partkey, COUNT(*) AS c FROM lineitem
        |  GROUP BY l_partkey
        |), tot AS (SELECT COUNT(*) AS n_keys, SUM(c) AS n_rows FROM pk)
        |SELECT c AS rows_per_key, COUNT(*) AS n_keys_c,
        |  CAST(COUNT(*) AS DOUBLE) / (SELECT n_keys FROM tot)
        |    AS key_share,
        |  CAST(c * COUNT(*) AS DOUBLE) / (SELECT n_rows FROM tot)
        |    AS row_share
        |FROM pk GROUP BY c
        |ORDER BY rows_per_key ASC NULLS LAST""".stripMargin
  )
}
