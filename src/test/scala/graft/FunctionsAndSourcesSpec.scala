package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FunctionsAndSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("float_dot native expression matches a hand computation") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val got = df.select(expr("float_dot(a, b)")).head.getDouble(0)
    assert(got == 32.0)
  }

  test("float_dot survives whole-stage codegen over real embeddings and " +
      "agrees with the interpreted path") {
    val e = Tables.table(spark, sf, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("ia"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("ib"), $"embedding".as("eb")))
    val viaCodegen = pairs.select($"ia", $"ib",
      expr("float_dot(ea, eb)").as("d")).collect()
    viaCodegen.take(20).foreach { r =>
      val row = pairs.filter($"ia" === r.getLong(0) && $"ib" === r.getLong(1))
        .head
      val a = row.getSeq[Float](1)
      val b = row.getSeq[Float](3)
      var s = 0.0
      a.indices.foreach(i => s += a(i).toDouble * b(i).toDouble)
      assert(r.getDouble(2) == s)
    }
  }

  test("float_dot is null-safe and handles length mismatch") {
    val df = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]),
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(2.0f))))
      .toDF("a", "b")
    val out = df.select(expr("float_dot(a, b)")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 2.0)
  }

  test("decimal_dot equals the interpreted exact-decimal fold bit-for-bit " +
      "over all real embedding pairs and adversarial values") {
    // every pair from the fixture corpus: codegen'd DecimalDot vs the
    // interpreted reference fold it replaced
    val e = Tables.table(spark, sf, "embeddings").limit(60)
    val pairs = e.select($"vec_id".as("ia"), $"embedding".as("ea"))
      .crossJoin(e.select($"vec_id".as("ib"), $"embedding".as("eb")))
    val diff = pairs.select(
      expr("decimal_dot(ea, eb)").as("fast"),
      FoldReferences.dot("ea", "eb").as("ref"))
      .filter(!($"fast" <=> $"ref"))
    assert(diff.count() == 0)
    // adversarial: rounding-boundary products, negatives, zeros, subnormal
    // floats, and deterministic pseudo-random values
    val rnd = new scala.util.Random(42)
    val adv: Seq[(Seq[Float], Seq[Float])] = Seq(
      (Seq(0.5f, -0.5f, 1.0f), Seq(1e-10f, 1e-10f, 0.00000000005f)),
      (Seq(Float.MinPositiveValue, 1f), Seq(1f, -1f)),
      (Seq(0f, -0f, 3.3f), Seq(7.7f, 1f, -3.14159f))) ++
      (1 to 50).map(_ => (Seq.fill(64)(rnd.nextFloat() * 2 - 1),
        Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val advDf = adv.toDF("a", "b")
    val advDiff = advDf.select(
      expr("decimal_dot(a, b)").as("fast"),
      FoldReferences.dot("a", "b").as("ref"))
      .filter(!($"fast" <=> $"ref"))
    assert(advDiff.count() == 0)
    // large magnitudes: the fast path is restricted to |p| <= 1; bigger
    // products must still agree with the fold, INCLUDING overflow
    // behavior at the DECIMAL(20,10) term bound (null when ANSI is off,
    // throw — like the fold's ANSI cast — when on)
    val rndL = new scala.util.Random(7)
    val large: Seq[(Seq[Float], Seq[Float])] =
      (1 to 40).map(_ => (Seq.fill(16)((rndL.nextFloat() * 2 - 1) * 1000f),
        Seq.fill(16)((rndL.nextFloat() * 2 - 1) * 1000f))) ++ Seq(
        (Seq(616.9848f), Seq(965.21228f)), // reproduced fast-path mismatch
        (Seq(40000f), Seq(40000f)), // 1.6e9 product: beyond old long range
        (Seq(1e6f), Seq(1e6f)), // 1e12 >= 1e10: decimal(20,10) overflow
        (Seq(3e4f, 1f), Seq(4e4f, 1f))) // mixed big + small terms
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val largeDiff = large.toDF("a", "b").select(
        expr("decimal_dot(a, b)").as("fast"),
        FoldReferences.dot("a", "b").as("ref"))
        .filter(!($"fast" <=> $"ref"))
      assert(largeDiff.count() == 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // ANSI on (the default): overflow throws, like the fold's ANSI cast
    val thrown = intercept[Exception] {
      Seq((Seq(1e6f), Seq(1e6f))).toDF("a", "b")
        .select(expr("decimal_dot(a, b)")).collect()
    }
    def chain(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: chain(e.getCause)
    assert(chain(thrown).exists(t =>
      String.valueOf(t.getMessage).contains("decimal_dot")))
    // null semantics match the fold: null array, null element, mismatch
    val nulls = Seq(
      (Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]),
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(2.0f))))
      .toDF("a", "b")
    val out = nulls.select(expr("decimal_dot(a, b)")).collect()
    assert(out(0).isNullAt(0)) // null array
    assert(out(1).isNullAt(0)) // length mismatch (zip_with pads null)
  }

  test("decimal_wdot equals the interpreted scale-8 weighted fold " +
      "bit-for-bit over real embeddings and adversarial values") {
    // fixture vectors against the actual hyperplane weight families the
    // engine uses: md5 halves (−7.5 … 7.5, annBuckets) and ±1 signs
    // (q_embed_rp) — plus pseudo-random double weights
    val md = java.security.MessageDigest.getInstance("MD5")
    def half(p: Int, i: Int): Double = {
      val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(hex.charAt(0)) - 7.5
    }
    val rnd = new scala.util.Random(11)
    val weightFamilies: Seq[Seq[Double]] =
      (0 until 6).map(p => (0 until 64).map(i => half(p, i)).toSeq) ++
        (0 until 4).map(p => (0 until 64)
          .map(i => if (half(p, i) > 0) 1.0 else -1.0).toSeq) ++
        Seq((0 until 64).map(_ => rnd.nextDouble() * 30 - 15).toSeq)
    val e = Tables.table(spark, sf, "embeddings").limit(60)
      .select($"embedding".as("v"))
    weightFamilies.zipWithIndex.foreach { case (w, fi) =>
      val arr = w.map(x => s"${x}D").mkString("array(", ", ", ")")
      val diff = e.select(
        expr(s"decimal_wdot(v, $arr)").as("fast"),
        FoldReferences.wdot("v", arr).as("ref"))
        .filter(!($"fast" <=> $"ref"))
      assert(diff.count() == 0, s"weight family $fi diverged")
    }
    // adversarial: boundary products, zeros, subnormals, big weights
    val adv = Seq(
      (Seq(0.5f, -0.5f, 1.0f), Seq(1e-8, -1e-8, 0.000000005)),
      (Seq(Float.MinPositiveValue, 1f), Seq(1.0, -1.0)),
      (Seq(0f, -0f, 3.3f), Seq(7.5, 1.0, -3.14159)),
      (Seq(40000f, 1f), Seq(40000.0, 1.0)), // 1.6e9: beyond fast path
      (Seq(1f), Seq(0.000000015))) ++ // half-up boundary at scale 8
      (1 to 50).map(_ => (Seq.fill(64)(rnd.nextFloat() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 16 - 8)))
    adv.toDF("a", "b").createOrReplaceTempView("wdot_adv")
    val advDiff = spark.table("wdot_adv").select(
      expr("decimal_wdot(a, b)").as("fast"),
      FoldReferences.wdot("a", "b").as("ref"))
      .filter(!($"fast" <=> $"ref"))
    assert(advDiff.count() == 0)
    // overflow mirrors the fold: DECIMAL(20,8) term bound is 1e12
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val big = Seq((Seq(1e6f), Seq(1e7))).toDF("a", "b").select(
        expr("decimal_wdot(a, b)").as("fast"),
        FoldReferences.wdot("a", "b").as("ref"))
        .collect()
      assert(big(0).isNullAt(0) && big(0).isNullAt(1))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // ANSI on (the default): overflow throws, naming decimal_wdot
    val thrownW = intercept[Exception] {
      Seq((Seq(1e6f), Seq(1e7))).toDF("a", "b")
        .select(expr("decimal_wdot(a, b)")).collect()
    }
    def chain(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: chain(e.getCause)
    assert(chain(thrownW).exists(t =>
      String.valueOf(t.getMessage).contains("decimal_wdot: ")))
    // null semantics: null array, length mismatch
    val nullsW = Seq(
      (Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Double]]),
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(2.0))))
      .toDF("a", "b")
    val outW = nullsW.select(expr("decimal_wdot(a, b)")).collect()
    assert(outW(0).isNullAt(0))
    assert(outW(1).isNullAt(0))
  }

  test("hive-partitioned parquet: a partition-key predicate becomes a " +
      "PartitionFilter (files pruned BEFORE any read) and values round " +
      "trip") {
    // the 100 TB lever beyond row-group pushdown: a predicate on the
    // PARTITION column prunes whole directories at planning time —
    // PartitionFilters in the scan, not PushedFilters
    val dir = Files.createTempDirectory("graft_part").toString
    val events = Tables.table(spark, sf, "events")
    events.write.partitionBy("event_type").parquet(s"$dir/out")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == events.count())
    val scan = back.filter(col("event_type") === "click")
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:")
      && scan.contains("isnotnull(event_type") || scan.contains(
        "PartitionFilters: [isnotnull(event_type"), scan)
    assert(scan.contains("(event_type") && scan.contains("= click)"),
      scan)
    // pruned read returns exactly the partition's rows
    assert(back.filter(col("event_type") === "click").count()
      == events.filter(col("event_type") === "click").count())
  }

  test("binaryFile source ingests raw blobs whose headers parse with " +
      "the multimodal machinery") {
    // the multimodal ingestion front door: opaque files arrive through
    // the binaryFile source as (path, content) rows; the SAME
    // magic-byte sniff the declared q_multimodal_headers query applies
    // classifies them with zero custom IO
    val dir = Files.createTempDirectory("graft_bin")
    val png = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 0x0D).map(_.toByte)
    val junk = "not an image".getBytes("UTF-8")
    Files.write(dir.resolve("a.png"), png)
    Files.write(dir.resolve("b.bin"), junk)
    val files = spark.read.format("binaryFile").load(dir.toString)
    assert(files.count() == 2)
    val parsed = files
      .select(col("path"),
        graft.operators.Multimodal.sniffFormat(hex(col("content")))
          .as("fmt"))
      .collect().map(r => (r.getString(0).split('/').last,
        r.getString(1))).toMap
    assert(parsed("a.png") == "png" && parsed("b.bin") == "unknown")
  }
}
