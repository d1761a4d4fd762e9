package graft
import org.apache.spark.sql.functions._

/** Scratch profiling harness — not part of the contract; rewritten ad
  * hoc each round to localize time inside the slowest declared queries.
  * Round 14: decomposition of the now-honest TEXT TAIL (r13 verdict
  * item 6 — q_text_rake / q_text_winnow / q_text_novelty / q_text_lm_kn
  * under the noop sink): each query rebuilt stage by stage so the time
  * attributes to (scan+tokenize) vs (in-row HOF folds) vs (token-grain
  * shuffles) vs (windows/joins). Best-of-3 per phase, bench warm
  * protocol. */
object AggProf {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, Session.joinPreference)
    Tables.warm(spark, d)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def docs = Tables.table(spark, d, "documents")
      .filter(col("text").isNotNull)
    val phases: Seq[(String, () => Unit)] = Seq(
      // ---- shared base
      "docs scan + split" -> (() =>
        noop(docs.withColumn("toks", split(col("text"), " ")))),
      // ---- q_text_rake
      "rake: posexplode tokens" -> (() =>
        noop(docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok"))))),
      "rake: + stopword top-5 agg" -> (() => {
        val toks = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        noop(toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(desc_nulls_last("n"), asc_nulls_last("tok")).limit(5))
      }),
      "rake: + islands windows (grp, plen)" -> (() => {
        val toks = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .filter(length(col("tok")) > 0)
        val stop = toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(desc_nulls_last("n"), asc_nulls_last("tok")).limit(5)
          .select(col("tok").as("stok"))
        val content = toks.join(broadcast(stop),
          col("tok") === col("stok"), "left_anti")
        val wpos = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        noop(content
          .withColumn("grp", col("pos") - row_number().over(wpos))
          .withColumn("plen", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id", "grp"))))
      }),
      "rake: FULL query" -> (() => CacheScope.scoped {
        noop(SparkEntry.queries("q_text_rake")(spark, d)) }),
      // ---- q_text_winnow
      "winnow: + k-gram md5 transform" -> (() =>
        noop(docs.withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 6)
          .withColumn("grams", expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> md5(concat_ws(' ', slice(toks, i + 1, 3))))"))
          .select("doc_id", "grams"))),
      "winnow: + window-min fold (fps)" -> (() =>
        noop(docs.withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 6)
          .withColumn("grams", expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> md5(concat_ws(' ', slice(toks, i + 1, 3))))"))
          .withColumn("fps", expr(
            "array_distinct(transform(sequence(0, size(grams) - 4), " +
              "j -> array_min(slice(grams, j + 1, 4))))"))
          .select("doc_id", "fps"))),
      "winnow: FULL query" -> (() => CacheScope.scoped {
        noop(SparkEntry.queries("q_text_winnow")(spark, d)) }),
      // ---- q_text_novelty / q_text_lm_kn: full only (both are
      // token/gram-grain shuffle pipelines; the full-vs-base split
      // already separates declared shuffle work from scan)
      "novelty: FULL query" -> (() => CacheScope.scoped {
        noop(SparkEntry.queries("q_text_novelty")(spark, d)) }),
      "lm_kn: FULL query" -> (() => CacheScope.scoped {
        noop(SparkEntry.queries("q_text_lm_kn")(spark, d)) }),
      "anomaly_mad: FULL query" -> (() => CacheScope.scoped {
        noop(SparkEntry.queries("q_anomaly_mad")(spark, d)) })
    )
    val best = scala.collection.mutable.LinkedHashMap
      .empty[String, Double]
    for (_ <- 1 to 3; (l, f) <- phases) {
      val t0 = System.nanoTime()
      f()
      val t = (System.nanoTime() - t0) / 1e9
      best(l) = math.min(best.getOrElse(l, Double.MaxValue), t)
    }
    best.foreach { case (l, t) => println(f"PHASE $l%-38s $t%6.3f s") }
    spark.stop()
  }
}
