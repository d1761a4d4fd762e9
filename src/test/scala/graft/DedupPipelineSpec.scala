package graft

import org.apache.spark.sql.functions._

import graft.operators.TextDedup
import graft.streaming.EventPipelines

class DedupPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("LSH pipeline finds planted near-duplicates and skips distinct docs") {
    // plant near-dups: copies of fixture texts with one token appended
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").filter($"doc_id" < 40)
    val dups = docs.filter($"doc_id" < 10)
      .select(($"doc_id" + 1000).as("doc_id"),
        concat($"text", lit(" extra")).as("text"))
    val corpus = docs.union(dups)
    val found = TextDedup.nearDuplicates(corpus, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each planted pair (i, i+1000) must be found
    (0L until 10L).foreach(i =>
      assert(found.contains((i, i + 1000)), s"missed planted dup $i"))
    // every reported pair must truly have token-jaccard >= 0.7
    // (brute-force ground truth; fixture docs share a tiny vocabulary so
    // some organic pairs legitimately qualify too)
    val tokSets = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    found.foreach { case (a, b) =>
      val j = tokSets(a).intersect(tokSets(b)).size.toDouble /
        tokSets(a).union(tokSets(b)).size
      assert(j >= 0.7, s"pipeline reported ($a,$b) with true jaccard $j")
    }
  }

  test("degenerate hot bucket: maxBucket caps the candidate-pair bill " +
      "and keeps the lowest ids") {
    // a boilerplate corpus — ONE text repeated 500 times puts all 500
    // ids in the same bucket of every band; uncapped that is 124,750
    // pairs, capped at 50 it must never exceed 50*49/2
    val cap = 50
    val boiler = spark.range(500)
      .select($"id".as("doc_id"),
        lit("the same boilerplate page template text here").as("text"))
    val base = boiler.select(col("doc_id").as("id"), col("text"))
    val signed = graft.operators.MinHash.withSignatures(base, "text", 8)
    val pairs = TextDedup.candidatePairs(signed, 8, 4, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == cap * (cap - 1) / 2,
      s"expected ${cap * (cap - 1) / 2} capped pairs, got ${pairs.length}")
    // deterministic truncation: only the lowest `cap` ids survive
    assert(pairs.forall { case (a, b) => a < cap && b < cap })
    // and the cap must NOT bite on the real fixture corpus: the largest
    // band bucket at this SF stays under the default 1024, so capped and
    // uncapped pipelines agree (the oracle computes pairs uncapped)
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
      .filter($"text".isNotNull)
    val fixtureSigned = graft.operators.MinHash.withSignatures(docs, "text", 8)
    val capped = TextDedup.candidatePairs(fixtureSigned, 8, 4)
    val uncapped = TextDedup.candidatePairs(fixtureSigned, 8, 4,
      maxBucket = Int.MaxValue)
    assert(capped.except(uncapped).isEmpty && uncapped.except(capped).isEmpty,
      "default cap altered fixture candidate pairs")
  }

  test("exactDedup keeps lowest id per duplicate group") {
    val base = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").filter($"doc_id" < 20)
    val clones = base.select(($"doc_id" + 500).as("doc_id"), $"text")
    val out = TextDedup.exactDedup(base.union(clones))
    assert(out.count() == 20)
    assert(out.agg(max("doc_id")).head.getLong(0) < 500)
  }

  test("streaming checkpoint recovery: restart resumes without " +
      "reprocessing or loss") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$tmp/src"
    val outDir = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    // the bus producer: events republished as 4 µs-timestamp files,
    // replayed one file per micro-batch
    Tables.table(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    def runOnce(): Unit = {
      val q = EventPipelines.sink(
          EventPipelines.trigger(
            graft.sources.Sources.FileReplayBus(srcDir).subscribe(spark),
            "purchase"),
          outDir, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // full drain
    val n1 = spark.read.parquet(outDir).count()
    runOnce() // restart from checkpoint: nothing new -> no duplicates
    val n2 = spark.read.parquet(outDir).count()
    assert(n1 == n2, s"restart duplicated output: $n1 -> $n2")
    val expected = Tables.table(spark, sf, "events")
      .filter($"event_type" === "purchase").count()
    assert(n1 == expected)
  }

  test("q_dedup_bucket_skew accounts for every banded signature") {
    val out = graft.operators.TextOps.queries("q_dedup_bucket_skew")(
      spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_size"), r.getAs[Long]("n_buckets"),
        r.getAs[Long]("n_candidate_pairs")))
    // Σ size·n_buckets = 4 bands × signed docs (docs with ≥ 3 tokens)
    val signedDocs = Tables.table(spark, sf, "documents")
      .filter(size(split($"text", " ")) >= 3).count()
    assert(out.map(t => t._1 * t._2).sum == 4 * signedDocs)
    // the pair bill follows the formula, and singleton buckets bill zero
    out.foreach { case (sz, nb, np) =>
      assert(np == nb * sz * (sz - 1) / 2, s"size $sz pair bill wrong")
    }
  }

  test("q_dedup_threshold_curve is monotone and agrees with the " +
      "declared 0.7 pipeline") {
    val r = graft.operators.TextOps.queries("q_dedup_threshold_curve")(
      spark, sf).head()
    val counts = Seq("n_candidates", "n_ge_05", "n_ge_06", "n_ge_07",
      "n_ge_08", "n_ge_09").map(c => r.getAs[Long](c))
    assert(counts.sliding(2).forall(p => p(0) >= p(1)),
      s"threshold curve not monotone: $counts")
    val at07 = graft.operators.TextOps.queries("q_dedup_pairs")(
      spark, sf).count()
    assert(r.getAs[Long]("n_ge_07") == at07)
  }

  test("q_dedup_incremental equals the corpus-wide pipeline filtered " +
      "to new-touching pairs") {
    val inc = graft.operators.TextOps.queries("q_dedup_incremental")(
      spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.operators.TextOps.queries("q_dedup_pairs")(spark, sf)
      .filter($"id_a" % 7 === 0 || $"id_b" % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full,
      s"incremental ${inc.size} pairs != filtered full ${full.size}")
    // and no old×old pair leaks through
    inc.foreach { case (a, b) =>
      assert(a % 7 == 0 || b % 7 == 0, s"old-only pair ($a,$b)")
    }
  }

  test("q_source_dup_rate covers every doc and every pair member") {
    val out = graft.operators.TextOps.queries("q_source_dup_rate")(
      spark, sf).collect()
    val total = Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    val members = graft.operators.TextOps.queries("q_dedup_pairs")(
      spark, sf)
      .select(explode(array($"id_a", $"id_b")).as("doc_id"))
      .distinct().count()
    assert(out.map(_.getAs[Long]("n_dup_members")).sum == members)
    out.foreach(r => assert(
      r.getAs[Long]("n_dup_members") <= r.getAs[Long]("n_docs")))
  }
}
