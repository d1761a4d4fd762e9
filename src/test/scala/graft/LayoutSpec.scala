package graft

import graft.sources.Layout

/** Bucketed layout must eliminate the join shuffle entirely — the
  * 100 TB fact⋈fact strategy, asserted on the actual physical plan. */
class LayoutSpec extends SparkSpec {

  test("co-located join of bucketed tables plans with zero Exchange") {
    val li = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    Layout.writeBucketed(o, "o_bkt", "o_orderkey", 8)
    // force the SMJ path (at real scale neither side broadcasts anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.colocatedJoin(spark, "li_bkt", "o_bkt",
        "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("ShuffleExchange")
        && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // and it is still correct
      val expect = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("unbucketed baseline of the same join DOES shuffle (sanity)") {
    val li = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    // disable auto-broadcast so the baseline is a genuine SMJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compaction rewrites a fragmented directory into the target file " +
      "count with identical data") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact")
    val in = s"$base/in"
    val out = s"$base/out"
    val orders = Tables.table(spark, sf, "orders")
    orders.repartition(64).write.parquet(in) // simulate micro-batch litter
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(in) == 64)
    // target sized so the whole table fits one file
    Layout.compact(spark, in, out, targetFileBytes = 1L << 30)
    assert(parquetFiles(out) == 1)
    val csum = (df: org.apache.spark.sql.DataFrame) => df
      .selectExpr("COUNT(*)", "CAST(SUM(o_orderkey) AS STRING)",
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING)")
      .head.toString
    assert(csum(spark.read.parquet(out)) == csum(orders))
  }

  test("hive-partitioned write prunes non-matching directories at read") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_part").toString
    val ev = Tables.table(spark, sf, "events")
      .select("event_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val read = spark.read.parquet(tmp)
      .filter(col("event_type") === "purchase")
    val plan = read.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // NOT as a post-scan filter over all partitions
    assert(plan.contains("PartitionFilters: ") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"no partition pruning in:\n$plan")
    assert(read.count() ==
      ev.filter(col("event_type") === "purchase").count())
  }
}
