package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.{TextDedup, VectorOps}

/** End-to-end showcase: the training-data curation pipeline this engine
  * exists for, composed from the library's building blocks as ONE job.
  *
  *   raw docs → exact dedup → near-dup collapse (MinHash LSH →
  *   connected components → quality survivor) → quality + language
  *   gate → PII redaction → token accounting → embedding join →
  *   ANN bucket assignment → reproducible train/test split → curated
  *   corpus, partitioned for downstream training.
  *
  * Every stage is a declarative transform: the whole pipeline is a single
  * Catalyst plan per output, shuffles only on dedup keys / the doc⋈vector
  * join, and scales by adding executors — no driver-side loops anywhere.
  *
  * Run: sbt "runMain graft.examples.TrainingDataPipeline <sfDir> <outDir>"
  */
object TrainingDataPipeline {

  def curate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")

    // 1. exact dedup (deterministic lowest-id survivor)
    val exact = TextDedup.exactDedup(docs)

    // 2. near-dup collapse with the QUALITY survivor policy
    // (q_dedup_survivor): LSH-verified pairs → connected components →
    // each duplicate cluster keeps its LONGEST member, so the corpus
    // loses duplicates, not content (pairwise higher-id dropping can
    // delete a whole chain including its best copy)
    val pairs = TextDedup.nearDuplicates(exact, threshold = 0.85)
      .select("id_a", "id_b")
    val clusters = graft.operators.Corpus.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
    val losers = clusters
      .join(exact.select("doc_id", "n_chars"), "doc_id")
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster")
          .orderBy(desc_nulls_last("n_chars"), asc_nulls_last("doc_id"))))
      .filter(col("_rn") > 1)
      .select("doc_id")
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")

    // 3. quality + language gate (cheap codegen'd predicates)
    val gated = deduped
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("ttr",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 8 && col("ttr") > 0.2)
      .filter(col("lang").isin("en", "de", "es", "fr", "zh"))

    // 4. PII scrub (global regex redaction — a pure narrow map)
    val scrubbed = gated.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{3}-[0-9]{4}", "<PHONE>"))

    // 5. token accounting for budget planning
    val accounted = scrubbed.withColumn("approx_tokens",
      (col("n_chars") / 4).cast("long"))

    // 6. embedding join + ANN bucket for similarity-aware sampling
    val emb = Tables.table(spark, sfDir, "embeddings")
    val withVec = accounted.join(emb,
      accounted("doc_id") === emb("vec_id"), "left")

    // 7. reproducible 95/5 train/eval split: seed-free key hash, the same
    // row lands in the same split on any cluster and any rerun
    VectorOps.annBuckets(withVec)
      .withColumn("split",
        when(expr(graft.operators.Breadth.splitBucket("doc_id")) < 95,
          "train").otherwise("eval"))
      .select("doc_id", "lang", "source", "n_chars", "n_tokens", "ttr",
        "approx_tokens", "label", "bucket", "split")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_curated")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val out = curate(spark, sfDir)
    // partition by language: downstream training reads one language
    // without touching the rest (partition pruning)
    out.write.mode("overwrite").partitionBy("lang").parquet(outDir)
    println(s"curated ${spark.read.parquet(outDir).count()} docs -> $outDir")
    spark.stop()
  }
}
