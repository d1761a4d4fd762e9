package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Hand-computed expectations on tiny in-memory frames plus targeted
  * checks of declared queries against independently-computed results. */
class OperatorsSpec extends SparkSpec {

  test("q_agg_hash matches a hand check on sf0.001") {
    val out = Relational.queries("q_agg_hash")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 6)
    // independent recomputation of one group via raw SQL over parquet
    val li = Tables.table(spark, sf, "lineitem")
    val expect = li.filter(col("l_shipdate") <=
        to_timestamp(lit("2000-12-01 00:00:00")))
      .filter(col("l_returnflag") === rows.head.getString(0) &&
        col("l_linestatus") === rows.head.getString(1))
      .count()
    assert(rows.head.getAs[Long]("count_order") == expect)
  }

  test("as-of join picks most recent signup at-or-before each purchase") {
    import spark.implicits._
    val out = Relational.queries("q_join_asof")(spark, sf)
    // brute-force check via a correlated-style computation
    val e = Tables.table(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "ts")
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id".as("pu"), $"ts".as("pts"))
    val sg = e.filter($"event_type" === "signup")
      .select($"user_id".as("su"), $"ts".as("sts"))
    val brute = p.join(sg, $"pu" === $"su" && $"sts" <= $"pts", "left")
      .groupBy("event_id").agg(max("sts").as("expect"))
    val joined = out.join(brute, "event_id")
    assert(joined.filter(
      !($"asof_signup_ts" <=> $"expect")).count() == 0)
  }

  test("forward as-of join picks the earliest purchase at-or-after each " +
      "click and nulls it beyond the 1-day tolerance") {
    import spark.implicits._
    val out = Relational.queries("q_join_asof_fwd")(spark, sf)
    val e = Tables.table(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "ts")
    val c = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id".as("cu"), $"ts".as("cts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val brute2 = c.join(p, $"cu" === $"pu" && $"pts" >= $"cts", "left")
      .groupBy("event_id", "cts").agg(min("pts").as("nxt"))
      .select(col("event_id"),
        when(col("nxt") <= col("cts") + expr("INTERVAL 1 DAY"),
          col("nxt")).as("expect"))
    val joined = out.join(brute2, "event_id")
    assert(joined.filter(!($"next_purchase_ts" <=> $"expect")).count() == 0)
    assert(out.count() == c.count())
    // the fixture exercises both arms: some linked, some out-of-tolerance
    assert(out.filter($"next_purchase_ts".isNotNull).count() > 0)
    assert(out.filter($"next_purchase_ts".isNull).count() > 0)
  }

  test("set ops partition correctly (union = intersect + both excepts)") {
    val u = Relational.queries("q_union")(spark, sf).count()
    val i = Relational.queries("q_intersect")(spark, sf).count()
    val e = Relational.queries("q_except")(spark, sf).count()
    val sn = Tables.table(spark, sf, "supplier")
      .select("s_nationkey").distinct().count()
    val cn = Tables.table(spark, sf, "customer")
      .select("c_nationkey").distinct().count()
    assert(u == i + e + (sn - i))
    assert(cn == i + e)
  }

  test("topk_per_group returns at most 3 per customer, correctly ranked") {
    val out = Relational.queries("q_topk_per_group")(spark, sf)
    val bad = out.groupBy("o_custkey").count().filter(col("count") > 3)
    assert(bad.count() == 0)
    val perCust = out.filter(col("o_custkey") === out.head.getLong(0))
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(perCust.sameElements(perCust.sorted.reverse))
  }

  test("session windows merge gaps <= 30 min and close strictly after") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (2L, 1L, ts("2024-01-01 00:29:59")), // merges (gap < 30m)
      (3L, 1L, ts("2024-01-01 00:59:59")), // exactly 30m gap → still merges
      (4L, 1L, ts("2024-01-01 01:30:00")), // 30m 1s gap → NEW session
      (5L, 2L, ts("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = StreamShapes.session(df)
      .orderBy("user_id", "session_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 3)
    assert(out(0).getAs[java.sql.Timestamp]("session_end") ==
      ts("2024-01-01 01:29:59"))
    assert(out(1).getAs[Long]("n_events") == 1)
    assert(out(1).getAs[java.sql.Timestamp]("session_start") ==
      ts("2024-01-01 01:30:00"))
  }

  test("q_join_interval grid decomposition equals the direct (unbucketed) " +
      "containment join") {
    // timestamps decode as LocalDateTime (NTZ parquet) — key generically
    val out = Relational.queries("q_join_interval")(spark, sf).collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val pts = Tables.table(spark, sf, "lineitem")
      .select(col("l_shipdate").as("p")).distinct()
    val iv = Tables.table(spark, sf, "orders")
      .select(col("o_orderdate").as("s0"),
        expr("timestampadd(DAY, CAST(o_orderkey % 30 + 1 AS INT), " +
          "o_orderdate)").as("e0"))
    // the slow-but-obviously-correct plan: direct theta join
    val direct = pts.join(iv,
        col("s0") <= col("p") && col("p") <= col("e0"))
      .groupBy("p").agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(out == direct)
    // and the declared plan is hash-joinable, not a nested loop
    val phys = Relational.queries("q_join_interval")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin")
      && !phys.contains("CartesianProduct"))
  }

  test("q_text_lm_score matches a plain-Scala bigram LM recomputation") {
    import spark.implicits._
    val out = TextOps.queries("q_text_lm_score")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def bigrams(tx: String): Seq[(String, String)] = {
      val t = tx.split(" ", -1) // split keeps empty tokens like Spark's
      if (t.length < 2) Nil else t.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val all = docs.filter(_._2 != null).flatMap(d => bigrams(d._2))
    val cntAb = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cntA = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def pScaled(bg: (String, String)): Long =
      cntAb(bg) * 1000000L / cntA(bg._1)
    docs.filter(d => d._2 != null && bigrams(d._2).nonEmpty).foreach {
      case (id, tx) =>
        val bgs = bigrams(tx)
        val sum = bgs.map(pScaled).sum
        val (n, s, f) = out(id)
        assert(n == bgs.length && s == sum, s"doc $id stats")
        assert(f == sum.toDouble / (bgs.length.toDouble * 1000000.0),
          s"doc $id fluency")
        assert(f >= 0.0 && f <= 1.0)
    }
    assert(out.size == docs.count(d =>
      d._2 != null && bigrams(d._2).nonEmpty))
  }

  test("minhash signatures are deterministic 60-bit values, stable across runs") {
    val out = TextOps.queries("q_dedup_minhash")(spark, sf)
    val row = out.head
    // deterministic across runs
    val row2 = TextOps.queries("q_dedup_minhash")(spark, sf).head
    assert(row == row2)
    // sig columns are 60-bit non-negative longs (the XOR family's value
    // space — overflow-free on both engines)
    (1 to 8).foreach { i =>
      val v = row.getLong(i)
      assert(v >= 0L && v < (1L << 60), s"sig_$i out of range: $v")
    }
  }

  test("exact dedup groups: every doc accounted for exactly once") {
    val out = TextOps.queries("q_text_dedup")(spark, sf)
    val total = out.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables.table(spark, sf, "documents").count())
  }

  test("simsearch brute-force matches an independent double-sum ranking") {
    val out = VectorOps.queries("q_simsearch_topk")(spark, sf).collect()
    assert(out.length == 10)
    val sims = out.map(_.getAs[Double]("cosine"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.head <= 1.0001 && sims.last >= -1.0001)
  }

  test("ann lsh buckets are stable and within range") {
    val out = VectorOps.queries("q_ann_lsh")(spark, sf)
    val buckets = out.select("bucket").distinct().collect()
      .map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 16))
  }

  test("multimodal feature extraction is deterministic and total") {
    val f = Multimodal.features(spark, sf)
    assert(f.count() == 500)
    val r = f.orderBy("doc_id").head
    val r2 = Multimodal.features(spark, sf).orderBy("doc_id").head
    assert(r == r2)
    assert(r.getAs[Long]("n_bytes") > 0)
  }

  test("stratified sample is partitioning-invariant with per-stratum rates") {
    val out = Breadth.queries("q_sample_stratified")(spark, sf)
    val rows = out.collect()
    // sampled never exceeds total, and totals cover the whole corpus
    assert(rows.forall(r =>
      r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_total")))
    assert(rows.map(_.getAs[Long]("n_total")).sum ==
      Tables.table(spark, sf, "documents").count())
    // en keeps ~10%, non-en strata keep more: compare aggregate rates
    val byLang = rows.groupBy(_.getString(0)).map { case (l, rs) =>
      l -> (rs.map(_.getAs[Long]("n_sampled")).sum.toDouble /
        rs.map(_.getAs[Long]("n_total")).sum)
    }
    assert(byLang("en") < byLang("es") && byLang("en") < byLang("zh"))
    // the exact same rows are kept regardless of shuffle partitioning
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val repart =
        Breadth.queries("q_sample_stratified")(spark, sf).collect()
      assert(repart.sameElements(rows))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q_ann_pq equals a plain-Scala product-quantization recomputation") {
    import spark.implicits._
    val out = VectorOps.queries("q_ann_pq")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val vecs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .filter(_._2 != null)
    // the proven exact encoding: DOUBLE → DECIMAL(18,7) → scaled BIGINT
    def scaled(v: Array[Float]): Array[Long] = v.map(x =>
      (BigDecimal(x.toDouble)
        .setScale(7, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(10000000)).toLongExact)
    val sv = vecs.map { case (id, v) => id -> scaled(v) }.toMap
    val cb = (0L until 4L).map(cid => cid -> sv(cid))
    vecs.foreach { case (id, _) =>
      val iv = sv(id)
      val best = (0 until 8).map { m =>
        cb.map { case (cid, cv) =>
          val dist = (0 until 8).map { j =>
            val dd = iv(m * 8 + j) - cv(m * 8 + j); dd * dd
          }.sum
          (dist, cid)
        }.min
      }
      val expect = (best.map(_._2).mkString(","), best.map(_._1).sum)
      assert(out(id) == expect, s"vec $id")
    }
    assert(out.size == vecs.length)
    // the codebook joins as a 1-row broadcast (Catalyst folds the
    // constant equi-key to a bounded BNLJ — allowlisted in
    // PlanRegressionSpec); never an unbounded cartesian product
    val phys = VectorOps.queries("q_ann_pq")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"))
  }

  test("q_ann_ivfpq ADC ranking matches a plain-Scala recomputation") {
    import spark.implicits._
    val out = VectorOps.queries("q_ann_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val vecs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .filter(_._2 != null).sortBy(_._1)
    def scaled(v: Array[Float]): Array[Long] = v.map(x =>
      (BigDecimal(x.toDouble)
        .setScale(7, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(10000000)).toLongExact)
    val sv = vecs.map { case (id, v) => id -> scaled(v) }.toMap
    // exact-decimal cosine, as FoldReferences.dot: double products rounded
    // to scale 10, exact accumulation
    def dot(a: Array[Float], b: Array[Float]): BigDecimal =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble * y.toDouble)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    val emb = vecs.toMap
    val cents = (0L until 8L).map(c => c -> emb(c))
    def cluster(v: Array[Float]): Long =
      cents.map { case (c, ce) => (dot(v, ce), c) }
        .maxBy { case (dt, c) => (dt, -c) }._2
    val probeTop2 = cents.map { case (c, ce) => (dot(emb(0L), ce), c) }
      .sortBy { case (dt, c) => (-dt, c) }.take(2).map(_._2).toSet
    def subDist(iv: Array[Long], cv: Array[Long], m: Int): Long =
      (0 until 8).map { j =>
        val dd = iv(m * 8 + j) - cv(m * 8 + j); dd * dd
      }.sum
    def code(iv: Array[Long]): Seq[Long] = (0 until 8).map { m =>
      (0L until 4L).map(c => (subDist(iv, sv(c), m), c)).min._2
    }
    val probeTbl = (0 until 8).map(m =>
      (0L until 4L).map(c => subDist(sv(0L), sv(c), m)))
    val expect = vecs.filter(_._1 != 0L)
      .filter { case (_, v) => probeTop2.contains(cluster(v)) }
      .map { case (id, _) =>
        val adc = code(sv(id)).zipWithIndex
          .map { case (c, m) => probeTbl(m)(c.toInt) }.sum
        (id, adc)
      }.sortBy { case (id, adc) => (adc, id) }.take(10).toSeq
    assert(out == expect)
    assert(out.size == 10)
  }

  test("q_ann_pq_recall counts the ADC top-10 overlap with exact top-10") {
    val row = VectorOps.queries("q_ann_pq_recall")(spark, sf).head
    assert(row.getLong(0) == 10L)
    val adc = VectorOps.queries("q_ann_ivfpq")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val e = Tables.table(spark, sf, "embeddings")
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pe")))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(probe)
      .withColumn("c", VectorOps.dotExpr("embedding", "pe"))
      .orderBy(desc("c"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(row.getLong(1) == (adc & exact).size.toLong)
  }

  test("q_ann_ivfpq_refined keeps every plain-ADC hit and strictly " +
      "improves recall@10 at equal nprobe") {
    val refined = VectorOps.queries("q_ann_ivfpq_refined")(spark, sf)
      .collect()
    assert(refined.length == 10)
    // the exact re-rank orders by cosine descending (vec_id tiebreak)
    val cos = refined.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    val refinedIds = refined.map(_.getLong(0)).toSet
    val adc10 = VectorOps.queries("q_ann_ivfpq")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val e = Tables.table(spark, sf, "embeddings")
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pe")))
    val exact10 = e.filter(col("vec_id") =!= 0).crossJoin(probe)
      .withColumn("c", VectorOps.dotExpr("embedding", "pe"))
      .orderBy(desc("c"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    // superset law: every exact-top-10 member among the ADC top-10 is
    // also among the ADC top-50 candidates, and under the exact cosine
    // those members out-rank all non-members — the refine can only keep
    // or add hits, never lose one
    assert((adc10 & exact10).subsetOf(refinedIds & exact10))
    // and on the fixtures the wider candidate pool strictly adds hits
    assert((refinedIds & exact10).size > (adc10 & exact10).size,
      s"refined recall ${(refinedIds & exact10).size} not strictly " +
        s"above ADC recall ${(adc10 & exact10).size}")
  }

  test("q_multimodal_wav parses the little-endian RIFF fields back " +
      "exactly and rejects non-WAV payloads") {
    import spark.implicits._
    val out = Multimodal.queries("q_multimodal_wav")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    assert(docs.nonEmpty && out.size == docs.length)
    docs.foreach { case (id, nChars) =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id should not sniff as WAV")
        assert(r.isNullAt(2) && r.isNullAt(6) && r.isNullAt(7))
      } else {
        val ch = id % 2 + 1
        val sr = if (id % 3 == 0) 8000L else if (id % 3 == 1) 16000L
          else 44100L
        val db = nChars * 4
        val br = sr * ch * 2
        assert(r.getBoolean(1))
        assert(r.getLong(2) == ch, s"channels doc $id")
        assert(r.getLong(3) == sr, s"sample_rate doc $id")
        assert(r.getLong(4) == br, s"byte_rate doc $id")
        assert(r.getLong(5) == 16L, s"bits doc $id")
        assert(r.getLong(6) == db, s"data_bytes doc $id")
        assert(r.getLong(7) == db * 1000 / br, s"duration doc $id")
      }
    }
  }

  test("q_text_mattr equals a plain-Scala sliding-window replay, with " +
      "the plain-TTR fallback below the window") {
    import spark.implicits._
    val W = 50
    val out = TextOps.queries("q_text_mattr")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(docs.nonEmpty && out.size == docs.length)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val r = out(id)
      assert(r.getLong(1) == toks.length, s"doc $id n_tokens")
      val (nw, sd) =
        if (toks.length >= W)
          (toks.length - W + 1L,
            (0 to toks.length - W)
              .map(i => toks.slice(i, i + W).distinct.length.toLong).sum)
        else (1L, toks.distinct.length.toLong)
      assert(r.getLong(2) == nw && r.getLong(3) == sd, s"doc $id fold")
      val expect = if (toks.length >= W) sd.toDouble / (nw.toDouble * W)
        else sd.toDouble / toks.length
      assert(r.getDouble(4) == expect, s"doc $id mattr")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("q_stats_prop_test equals a plain-Scala user-rollup replay and " +
      "the pooled-SE z identity holds") {
    import spark.implicits._
    val users = Tables.table(spark, sf, "events")
      .select("user_id", "event_type").as[(Long, String)].collect()
      .groupBy(_._1).map { case (u, evs) =>
        (u, if (evs.count(_._2 == "purchase") * 5 > evs.size) 1L
        else 0L)
      }
    val (g0, g1) = users.partition(_._1 % 2 == 0)
    val (n1, s1) = (g0.size.toLong, g0.map(_._2).sum)
    val (n2, s2) = (g1.size.toLong, g1.map(_._2).sum)
    val r = StatsTests.queries("q_stats_prop_test")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2
      && r.getAs[Long]("s1") == s1 && r.getAs[Long]("s2") == s2)
    val p1 = s1.toDouble / n1; val p2 = s2.toDouble / n2
    assert(r.getAs[Double]("p1") == p1 && r.getAs[Double]("p2") == p2)
    val pp = (s1 + s2).toDouble / (n1 + n2)
    val z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    // the fixture must exercise a non-degenerate test
    assert(n1 > 0 && n2 > 0 && s1 + s2 > 0 && s1 + s2 < n1 + n2)
  }

  test("q_stats_cohens_kappa equals a plain-Scala 2x2 replay and the " +
      "po/pe/kappa identities hold") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect()
    val flags = docs.map { case (_, text, nChars) =>
      val toks = text.split(" ", -1)
      val nt = toks.length.toLong
      val score = toks.distinct.length.toDouble / nt *
        (math.min(nt, 100L).toDouble / 100.0)
      val atl = (nChars - (nt - 1)).toDouble / nt
      (score > 0.3, nt >= 30 && atl > 3.0)
    }
    val n = flags.length.toLong
    val n11 = flags.count(f => f._1 && f._2).toLong
    val n10 = flags.count(f => f._1 && !f._2).toLong
    val n01 = flags.count(f => !f._1 && f._2).toLong
    val n00 = flags.count(f => !f._1 && !f._2).toLong
    val r = StatsTests.queries("q_stats_cohens_kappa")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n") == n && r.getAs[Long]("n11") == n11
      && r.getAs[Long]("n10") == n10 && r.getAs[Long]("n01") == n01
      && r.getAs[Long]("n00") == n00, "2x2 table diverged")
    val a1 = n11 + n10; val b1 = n11 + n01
    val chance = a1 * b1 + (n - a1) * (n - b1)
    val po = (n11 + n00).toDouble / n
    val pe = chance.toDouble / (n.toDouble * n)
    assert(r.getAs[Double]("po") == po && r.getAs[Double]("pe") == pe)
    val kappa = r.getAs[Double]("kappa")
    assert(kappa ==
      (n * (n11 + n00) - chance).toDouble / (n * n - chance).toDouble)
    assert(kappa <= 1.0 + 1e-12, "kappa cannot exceed 1")
    // the fixture must exercise a non-degenerate table (both raters
    // split) or the agreement audit is vacuous
    assert(a1 > 0 && a1 < n && b1 > 0 && b1 < n,
      s"degenerate rater split: a1=$a1 b1=$b1 n=$n")
  }

  test("q_multimodal_midi round-trips format/tracks/division incl. the " +
      "two's-complement SMPTE fps decode, and rejects non-MIDI bytes") {
    import spark.implicits._
    val out = Multimodal.queries("q_multimodal_midi")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    assert(docs.nonEmpty && out.size == docs.length)
    docs.foreach { case (id, nChars) =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id should not sniff as MIDI")
        assert(r.isNullAt(2) && r.isNullAt(4) && r.isNullAt(8))
      } else {
        val fmt = id % 3
        val ntrks = if (fmt == 0) 1L else id % 4 + 1
        assert(r.getBoolean(1))
        assert(r.getLong(2) == fmt, s"format doc $id")
        assert(r.getLong(3) == ntrks, s"n_tracks doc $id")
        if (id % 2 == 1) { // SMPTE: negative fps byte decodes positive
          val fps = Seq(24L, 25L, 29L, 30L)((id % 4).toInt)
          assert(r.getString(4) == "smpte", s"mode doc $id")
          assert(r.isNullAt(5), s"ppq must be NULL in smpte doc $id")
          assert(r.getLong(6) == fps, s"smpte_fps doc $id")
          assert(r.getLong(7) == (id % 3 + 1) * 40, s"tpf doc $id")
        } else {
          val ppq = if (id % 3 == 0) 96L else if (id % 3 == 1) 192L
            else 480L
          assert(r.getString(4) == "ppq", s"mode doc $id")
          assert(r.getLong(5) == ppq, s"ppq doc $id")
          assert(r.isNullAt(6) && r.isNullAt(7),
            s"smpte fields must be NULL in ppq doc $id")
        }
        assert(r.getLong(8) == nChars * 3, s"track_bytes doc $id")
      }
    }
  }

  test("q_multimodal_png parses the big-endian IHDR fields back exactly, " +
      "derives channels from the color type, and rejects non-PNG bytes") {
    import spark.implicits._
    val out = Multimodal.queries("q_multimodal_png")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ids = Tables.table(spark, sf, "documents")
      .select("doc_id").as[Long].collect()
    assert(ids.nonEmpty && out.size == ids.length)
    val ctFor = Array(0L, 2L, 3L, 4L, 6L)
    val chFor = Map(0L -> 1, 2L -> 3, 3L -> 1, 4L -> 2, 6L -> 4)
    ids.foreach { id =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id should not sniff as PNG")
        assert(r.isNullAt(2) && r.isNullAt(5) && r.isNullAt(8))
      } else {
        val ct = ctFor((id % 5).toInt)
        assert(r.getBoolean(1), s"doc $id should sniff as PNG")
        assert(r.getLong(2) == id % 1920 + 1, s"width doc $id")
        assert(r.getLong(3) == (id * 3) % 1080 + 1, s"height doc $id")
        assert(r.getLong(4) == 8L, s"bit_depth doc $id")
        assert(r.getLong(5) == ct, s"color_type doc $id")
        assert(r.getLong(6) == id % 2, s"interlace doc $id")
        assert(r.getInt(7) == chFor(ct), s"n_channels doc $id")
        assert(r.getLong(8) == 8L * chFor(ct), s"bits_per_pixel doc $id")
      }
    }
  }

  test("q_multimodal_mp3 decodes the syncsafe tag size exactly and " +
      "rejects non-MP3 payloads") {
    import spark.implicits._
    val out = Multimodal.queries("q_multimodal_mp3")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ids = Tables.table(spark, sf, "documents")
      .select("doc_id").as[Long].collect()
    assert(ids.nonEmpty && out.size == ids.length)
    ids.foreach { id =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id should not sniff as MP3")
        assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
      } else {
        val tagSize = (id * 97) % 100000
        assert(r.getBoolean(1), s"doc $id should sniff as MP3")
        assert(r.getLong(2) == id % 2 + 3, s"ver_major doc $id")
        assert(r.getLong(3) == tagSize, s"tag_size doc $id")
        assert(r.getLong(4) == 10 + tagSize, s"audio_offset doc $id")
      }
    }
  }

  test("q_stats_spearman equals a plain-Scala rank replay") {
    import spark.implicits._
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "event_id", "value", "ts")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getTimestamp(3).getTime))
    val expect = rows.groupBy(_._1).map { case (ty, v) =>
      val rv = v.sortBy(x => (x._3, x._2)).zipWithIndex
        .map { case (x, i) => x._2 -> (i + 1L) }.toMap
      val rt = v.sortBy(x => (x._4, x._2)).zipWithIndex
        .map { case (x, i) => x._2 -> (i + 1L) }.toMap
      val sumD2 = v.map(x => { val d = rv(x._2) - rt(x._2); d * d }).sum
      val n = v.length.toLong
      // r9: Σd² and n(n²−1) run in DECIMAL(38,0) (BIGINT wraps past
      // ~2.1M rows/group); Σd² ships VARCHAR-routed and ρ is one IEEE
      // division of the two correctly-rounded decimal→double casts
      val den = (BigInt(n) * (BigInt(n) * BigInt(n) - 1)).toDouble
      ty -> (n, sumD2, 1.0 - (6.0 * sumD2.toDouble) / den)
    }
    val out = StatsTests.queries("q_stats_spearman")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (n, s2, rho) = expect(r.getString(0))
      assert(r.getLong(1) == n && BigInt(r.getString(2)) == BigInt(s2),
        s"type ${r.getString(0)}")
      assert(r.getDouble(3) == rho, s"rho ${r.getString(0)}")
    }
  }

  test("q_stats_kruskal equals a plain-Scala midrank replay with the " +
      "tie-corrected H") {
    // KW pools ONLY the three tested groups — other event types (the
    // fixture also has signup etc.) are outside the hypothesis and
    // contribute nothing to the pooled ranks (the query's conditional
    // counts give them m = 0)
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull
        && col("event_type").isin("click", "view", "purchase"))
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // pooled midranks at value grain, doubled to stay integral
    val byValue = rows.groupBy(_._2).view
      .mapValues(_.map(_._1)).toMap.toSeq.sortBy(_._1)
    var seen = 0L
    var r2 = Map("click" -> BigInt(0), "view" -> BigInt(0),
      "purchase" -> BigInt(0))
    var tt = BigInt(0)
    byValue.foreach { case (_, types) =>
      val m = types.length.toLong
      val dbl = 2L * seen + m + 1L // doubled midrank of every tie member
      types.groupBy(identity).foreach { case (ty, ts2) =>
        r2 = r2.updated(ty, r2(ty) + BigInt(ts2.length) * BigInt(dbl))
      }
      tt += BigInt(m) * BigInt(m) * BigInt(m) - BigInt(m)
      seen += m
    }
    val nBy = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = rows.length.toLong
    def term(g: String) =
      r2(g).toDouble * r2(g).toDouble / (4.0 * nBy(g).toDouble)
    val hUncorr = 12.0 * (term("click") + term("view") + term("purchase")) /
      (n.toDouble * (n.toDouble + 1.0)) - 3.0 * (n.toDouble + 1.0)
    val h = hUncorr /
      (1.0 - tt.toDouble /
        (n.toDouble * n.toDouble * n.toDouble - n.toDouble))
    val out = StatsTests.queries("q_stats_kruskal")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == nBy("click") && r.getLong(1) == nBy("view")
      && r.getLong(2) == nBy("purchase"))
    assert(BigInt(r.getString(3)) == r2("click"), "r2_click")
    assert(BigInt(r.getString(4)) == r2("view"), "r2_view")
    assert(BigInt(r.getString(5)) == r2("purchase"), "r2_purchase")
    assert(BigInt(r.getString(6)) == tt, "t_ties")
    assert(r.getDouble(7) == h, "h")
    assert(h >= 0.0, "H is non-negative for real data")
  }

  test("q_stats_friedman equals a plain-Scala doubled-midrank replay " +
      "and the chi2 identity holds") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val types = Seq("click", "view", "purchase")
    val daily = rows.groupBy(_._1).view.mapValues { evs =>
      types.map(t => evs.count(_._2 == t).toLong)
    }.toMap
    // doubled midrank of x within its 3-value block: 2·minrank+ties−1
    def dranks(cnts: Seq[Long]): Seq[Long] = cnts.map { x =>
      2L * (cnts.count(_ < x) + 1) + cnts.count(_ == x) - 1
    }
    val blocks = daily.values.map(dranks).toSeq
    val n = blocks.length.toLong
    val rsum = types.indices.map(j => blocks.map(_(j)).sum)
    val a2 = blocks.flatten.map(x => x * x).sum
    val num = rsum.map(x => x * x).sum - 48L * n * n
    val den = a2 - 48L * n
    val chi2 = if (den == 0) 0.0
      else BigDecimal(2.0 * num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = StatsTests.queries("q_stats_friedman")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("r2_click") == rsum(0)
      && r.getAs[Long]("r2_view") == rsum(1)
      && r.getAs[Long]("r2_purchase") == rsum(2))
    assert(r.getAs[Long]("a2") == a2)
    assert(r.getAs[Long]("num") == num && r.getAs[Long]("den") == den)
    assert(r.getAs[Double]("chi2") == chi2)
    // doubled rank sums over n complete 3-blocks always total 12n
    assert(rsum.sum == 12L * n)
    assert(num >= 0, "Cauchy–Schwarz lower bound")
  }

  test("q_stats_page_trend equals a plain-Scala weighted doubled-" +
      "midrank replay and the L bounds hold") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    // the declared a-priori funnel order: purchase=1, click=2, view=3
    val types = Seq("purchase", "click", "view")
    val daily = rows.groupBy(_._1).view.mapValues { evs =>
      types.map(t => evs.count(_._2 == t).toLong)
    }.toMap
    def dranks(cnts: Seq[Long]): Seq[Long] = cnts.map { x =>
      2L * (cnts.count(_ < x) + 1) + cnts.count(_ == x) - 1
    }
    val blocks = daily.values.map(dranks).toSeq
    val b = blocks.length.toLong
    val rsum = types.indices.map(j => blocks.map(_(j)).sum)
    val l2 = rsum.zipWithIndex.map { case (r2, j) => (j + 1) * r2 }.sum
    val z = (l2 - 24.0 * b) / (2.0 * math.sqrt(2.0 * b))
    val r = StatsTests.queries("q_stats_page_trend")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_days") == b)
    assert(r.getAs[Long]("r2_purchase") == rsum(0)
      && r.getAs[Long]("r2_click") == rsum(1)
      && r.getAs[Long]("r2_view") == rsum(2))
    assert(r.getAs[Long]("l2") == l2)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    // rearrangement bounds: per block the doubled ranks are {2,4,6}
    // up to ties (they always sum to 12), so Σj·dr ∈
    // [1·6+2·4+3·2, 1·2+2·4+3·6] = [20, 28]; ties only pull inward
    // (all-tied gives 4·(1+2+3) = 24, the H₀ mean)
    assert(l2 >= 20L * b && l2 <= 28L * b, s"L2=$l2 outside [20b,28b]")
  }

  test("q_stats_cochran_q equals a plain-Scala dichotomized replay") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val types = Seq("click", "view", "purchase")
    val blocks = rows.groupBy(_._1).values.map { evs =>
      val cnts = types.map(t => evs.count(_._2 == t).toLong)
      val tot = cnts.sum
      cnts.map(c => if (c * 3 > tot) 1L else 0L)
    }.toSeq
    val n = blocks.length.toLong
    val cj = types.indices.map(j => blocks.map(_(j)).sum)
    val nSucc = cj.sum
    val sumR2 = blocks.map(b => { val r = b.sum; r * r }).sum
    val num = 3L * cj.map(x => x * x).sum - nSucc * nSucc
    val den = 3L * nSucc - sumR2
    val q = if (den == 0) 0.0
      else BigDecimal(2.0 * num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = StatsTests.queries("q_stats_cochran_q")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("c_click") == cj(0)
      && r.getAs[Long]("c_view") == cj(1)
      && r.getAs[Long]("c_purchase") == cj(2))
    assert(r.getAs[Long]("n_succ") == nSucc
      && r.getAs[Long]("sum_r2") == sumR2)
    assert(r.getAs[Long]("num") == num && r.getAs[Long]("den") == den)
    assert(r.getAs[Double]("q") == q)
    // Q's numerator is a variance of column totals — never negative
    assert(3L * cj.map(x => x * x).sum >= nSucc * nSucc)
  }

  test("q_stats_bhattacharyya equals a plain-Scala quantized-term " +
      "replay and sits in [0, 1]") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select("value", "event_type")
      .collect().map(r => (Option(r.get(0)), r.getString(1)))
    val byValue = rows.groupBy(_._1).view.mapValues { evs =>
      (evs.count(_._2 == "click").toLong,
        evs.count(_._2 == "view").toLong)
    }.toMap
    val n1 = byValue.values.map(_._1).sum
    val n2 = byValue.values.map(_._2).sum
    val bc = byValue.values.map { case (d1, d2) =>
      math.floor(1.0e8 * math.sqrt((d1 * d2).toDouble)
        / math.sqrt((n1 * n2).toDouble)).toLong
    }.sum
    val r = StatsTests.queries("q_stats_bhattacharyya")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_click") == n1
      && r.getAs[Long]("n_view") == n2)
    assert(r.getAs[Long]("n_values") == byValue.size.toLong)
    assert(r.getAs[Long]("bc_e8") == bc)
    assert(r.getAs[Long]("hellinger2_e8") == 100000000L - bc)
    assert(bc >= 0L && bc <= 100000000L)
  }

  test("q_stats_cramers_v squares the chi2 into [0, 1] and matches a " +
      "plain-Scala contingency replay") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("event_type"),
        (expr("weekday(ts)") + 1).cast("long").as("dow"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val cells = rows.groupBy(identity).view.mapValues(_.size.toLong)
    val n = rows.length.toLong
    val rTot = rows.groupBy(_._1).view.mapValues(_.size.toLong)
    val cTot = rows.groupBy(_._2).view.mapValues(_.size.toLong)
    val chi2ppm = cells.map { case ((et, dow), o) =>
      val (rr, cc) = (rTot(et), cTot(dow))
      val dev = BigInt(o) * n - BigInt(rr) * cc
      (dev * dev * 1000000 / (BigInt(rr) * cc * n)).toLong
    }.sum
    val mindim = math.min(rTot.size, cTot.size).toLong
    val v = BigDecimal(math.sqrt((chi2ppm / 1.0e6)
        / (n.toDouble * (mindim - 1).toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = StatsTests.queries("q_stats_cramers_v")(spark, sf)
      .collect().head
    assert(out.getAs[Long]("chi2_ppm") == chi2ppm)
    assert(out.getAs[Long]("n_events") == n)
    assert(out.getAs[Long]("mindim") == mindim)
    assert(out.getAs[Double]("v") == v)
    assert(v >= 0.0 && v <= 1.0)
  }

  test("q_text_bm25 equals a plain-Scala replay through the portable " +
      "log2 chain") {
    // bit-identical replay of Det.withPlog2 (same operation order)
    def plog2(n: Long): Double = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
      val m = n.toDouble / (1L << e).toDouble
      val z = (m - 1.0) / (m + 1.0)
      val z2 = z * z
      e.toDouble + (2.0 * (z * (1.0 + z2 * (1.0 / 3.0 + z2 *
        (1.0 / 5.0 + z2 * (1.0 / 7.0 + z2 * (1.0 / 9.0 + z2 *
          (1.0 / 11.0))))))) / 0.6931471805599453)
    }
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val dl = docs.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val nDocs = docs.length.toLong
    val sumDl = dl.values.sum
    val df = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val band = df.toSeq.sortBy { case (tok, d) => (-d, tok) }
    val qterms = band.slice(5, 9).toMap
    val scored = docs.flatMap { case (id, ts) =>
      ts.filter(qterms.contains).groupBy(identity).toSeq
        .map { case (tok, occ) =>
        val d = qterms(tok)
        val idf = (plog2(2L * nDocs - 2L * d + 1L)
          - plog2(2L * d + 1L)) * 0.6931471805599453
        val tf = occ.length.toDouble
        val part = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *
          (dl(id).toDouble / (sumDl.toDouble / nDocs.toDouble))))
        id -> math.floor(idf * part * 1.0e10 + 0.5).toLong
      }
    }
    val perDoc = scored.groupBy(_._1).view.mapValues { qs =>
      (qs.length.toLong, qs.map(_._2).sum)
    }.toMap
    val expect = perDoc.toSeq
      .sortBy { case (id, (_, sq)) => (-sq, id) }.take(20)
    val out = TextOps.queries("q_text_bm25")(spark, sf).collect()
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (r, (id, (hits, sq))) =>
      assert(r.getAs[Long]("doc_id") == id)
      assert(r.getAs[Long]("dl") == dl(id))
      assert(r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Long]("sq") == sq, s"doc $id")
      assert(r.getAs[Double]("score") == sq.toDouble / 1.0e10)
    }
  }

  test("q_stream_late_audit equals a plain-Scala running-max lateness " +
      "replay") {
    val rows = Tables.table(spark, sf, "events")
      .select("event_type", "event_id", "ts")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2).getTime * 1000L
          + r.getTimestamp(2).getNanos / 1000 % 1000))
    val expect = rows.groupBy(_._1).map { case (ty, v) =>
      // the query's hashed multi-producer arrival order
      val ordered = v.sortBy(e =>
        (e._2 % 1048576L * 2654435761L % 4294967296L, e._2))
      var wm = Long.MinValue
      var late = Vector.empty[Long]
      ordered.foreach { case (_, _, tsu) =>
        late :+= math.max(0L, if (wm == Long.MinValue) 0L else wm - tsu)
        wm = math.max(wm, tsu)
      }
      ty -> (v.length.toLong,
        late.count(_ > 900000000L).toLong,
        late.count(_ > 3600000000L).toLong,
        late.max)
    }
    val out = StreamShapes.queries("q_stream_late_audit")(spark, sf)
      .collect()
    assert(out.map(_.getString(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (n, d15, d1h, mx) = expect(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == d15
        && r.getLong(3) == d1h && r.getLong(4) == mx,
        s"type ${r.getString(0)}")
    }
    // the audit is non-trivial on the fixture: some out-of-orderness
    assert(out.map(_.getLong(4)).max > 0L, "fixture has no late events")
  }

  test("q_text_lm_kn: KN normalizes EXACTLY (BigInt rational sum = 1 " +
      "over vocab+OOV per context), outputs are sane, and the 18-digit " +
      "downshift restores log2 of >BIGINT numerators") {
    // exact normalization: for the discount d = 3/4 and add-one
    // continuation, sum_w p(w|v) over the train vocab PLUS the OOV
    // slot must be exactly 1 as rationals — the property that makes
    // KN a probability model and pins every piece of the formula
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.split(" ").length >= 2)
    val train = docs.filter(_._1 % 5 != 0)
    val bigrams = train.flatMap { case (_, t2) =>
      val w = t2.split(" "); w.sliding(2).map(p => (p(0), p(1)))
    }
    val cab = bigrams.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val ca = cab.groupBy(_._1._1).view
      .mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val n1b = cab.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val vocab = train.flatMap(_._2.split(" ")).toSet
    val bv = BigInt(cab.size) + vocab.size + 1
    val contexts = ca.keys.toSeq.sorted.take(5)
    contexts.foreach { v =>
      val (cv, n1a) = ca(v)
      // sum over vocab words + the OOV slot, on the common denominator
      // 4*cv*bv
      val den = BigInt(4) * cv * bv
      val numSum = vocab.toSeq.map { w =>
        val cvw = cab.getOrElse((v, w), 0L)
        BigInt((4L * cvw - 3L).max(0L)) * bv +
          BigInt(3) * n1a * (n1b.getOrElse(w, 0L) + 1)
      }.sum + BigInt(3) * n1a * 1 // the OOV slot: n1b = 0
      assert(numSum == den, s"context '$v': KN mass $numSum != $den")
    }
    // output sanity on the fixture
    val out = TextOps.queries("q_text_lm_kn")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) > 0.0, s"${r.getString(0)} kn_bits")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0,
        s"${r.getString(0)} backoff_rate")
      assert(r.getDouble(4) ==
        r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
    // the downshift law on a numerator BIGINT cannot hold: first 18
    // digits + sh*log2(10) restores log2 within the chain's tolerance
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val big = BigInt("123456789012345678901234567") // 27 digits
    val df = Seq(big.toString).toDF("numstr")
      .withColumn("sh", expr(
        "CAST(greatest(0, length(numstr) - 18) AS BIGINT)"))
      .withColumn("num18", expr(
        "CAST(substring(numstr, 1, 18) AS BIGINT)"))
    val chained = graft.Det.withPlog2(df, "num18", "l2n")
      .withColumn("l2full", expr(
        "l2n + CAST(sh AS DOUBLE) * CAST(3.321928094887362 AS DOUBLE)"))
      .collect().head
    val want = math.log(big.doubleValue) / math.log(2.0)
    assert(math.abs(chained.getAs[Double]("l2full") - want) < 1e-5,
      s"downshifted log2 ${chained.getAs[Double]("l2full")} vs $want")
  }

  test("q_stats_runs equals a plain-Scala doubled-median runs replay") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "event_id", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        new JBD(r.getDouble(2)).setScale(4, RoundingMode.HALF_UP)))
    val expect = rows.groupBy(_._1).flatMap { case (ty, v) =>
      val byVal = v.sortBy(x => (x._3, x._2))(
        Ordering.Tuple2(Ordering.by((b: JBD) => b), Ordering.Long))
      val n = byVal.length
      val m2 = byVal((n + 1) / 2 - 1)._3.add(byVal(n / 2)._3)
      val classified = v.sortBy(_._2).map { x =>
        x._3.add(x._3).compareTo(m2) match {
          case c if c > 0 => 1
          case c if c < 0 => -1
          case _ => 0
        }
      }.filter(_ != 0)
      if (classified.isEmpty) None
      else {
        val n1 = classified.count(_ == 1).toLong
        val n2 = classified.count(_ == -1).toLong
        val runs = 1L + classified.sliding(2)
          .count(w => w.length == 2 && w(0) != w(1))
        val tn = BigInt(2) * n1 * n2
        val s2num = tn * (tn - n1 - n2)
        val s2den = BigInt(n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
        val z = (runs.toDouble -
          (2.0 * n1.toDouble * n2.toDouble /
            (n1.toDouble + n2.toDouble) + 1.0)) /
          math.sqrt(s2num.toDouble / s2den.toDouble)
        Some(ty -> (n1, n2, runs, s2num, s2den, z))
      }
    }
    val out = StatsTests.queries("q_stats_runs")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (n1, n2, runs, s2num, s2den, z) = expect(r.getString(0))
      assert(r.getLong(1) == n1 && r.getLong(2) == n2
        && r.getLong(3) == runs, s"counts ${r.getString(0)}")
      assert(BigInt(r.getString(4)) == s2num
        && BigInt(r.getString(5)) == s2den, s"sigma ${r.getString(0)}")
      assert(r.getDouble(6) == z, s"z ${r.getString(0)}")
    }
  }

  test("q_ts_theil_sen equals a plain-Scala exact-rational median replay") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val daily = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "ts", "value")
      .collect()
      .map(r => ((r.getString(0),
        // session tz is UTC — to_date(ts) must replay in UTC too
        r.getTimestamp(1).toInstant
          .atZone(java.time.ZoneOffset.UTC).toLocalDate),
        new JBD(r.getDouble(2)).setScale(4, RoundingMode.HALF_UP)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).reduce(_.add(_))).toMap
    val expect = daily.keys.map(_._1).toSet.toSeq.sorted.flatMap { ty =>
      val days = daily.collect { case ((t, d), v) if t == ty => (d, v) }
        .toSeq.sortBy(_._1.toEpochDay)
      val slopes = for {
        i <- days.indices; j <- (i + 1) until days.length
      } yield {
        val num = days(j)._2.subtract(days(i)._2)
        val den = days(j)._1.toEpochDay - days(i)._1.toEpochDay
        (num.doubleValue / den, num, den)
      }
      if (slopes.isEmpty) None
      else {
        val srt = slopes.sortBy(s => (s._1, s._2, s._3))(
          Ordering.Tuple3(Ordering.Double.TotalOrdering,
            Ordering.by((b: JBD) => b), Ordering.Long))
        val np = srt.length
        val lo = srt((np + 1) / 2 - 1)
        val hi = srt(np / 2)
        Some(ty -> (days.length.toLong, np.toLong, lo, hi,
          (lo._2.doubleValue / lo._3 + hi._2.doubleValue / hi._3) / 2.0))
      }
    }.toMap
    val out = EventAnalytics.queries("q_ts_theil_sen")(spark, sf)
      .collect()
    assert(out.map(_.getString(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (nd, np, lo, hi, slope) = expect(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == np,
        s"counts ${r.getString(0)}")
      assert(new JBD(r.getString(3)).compareTo(lo._2) == 0
        && r.getLong(4) == lo._3, s"lo ${r.getString(0)}")
      assert(new JBD(r.getString(5)).compareTo(hi._2) == 0
        && r.getLong(6) == hi._3, s"hi ${r.getString(0)}")
      assert(r.getDouble(7) == slope, s"slope ${r.getString(0)}")
    }
  }

  test("q_multimodal_webp dispatches on the FourCC and round-trips all " +
      "three variant geometries") {
    val out = Multimodal.queries("q_multimodal_webp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None
        else Some((r.getString(2), r.getLong(3), r.getBoolean(4),
          r.getLong(5), r.getLong(6)))))
    assert(out.nonEmpty)
    out.foreach { case (id, isWebp, fields) =>
      assert(isWebp == (id % 5 != 0), s"doc $id sniff")
      if (isWebp) {
        val (fourcc, csz, sigOk, w, hgt) = fields.get
        val wantCc = Seq("VP8 ", "VP8L", "VP8X")((id % 3).toInt)
        assert(fourcc == wantCc, s"doc $id fourcc")
        assert(csz == (if (id % 3 == 1) 5L else 10L), s"doc $id size")
        assert(sigOk, s"doc $id variant signature")
        assert(w == id % 1920 + 1, s"doc $id width")
        assert(hgt == (id * 3) % 1080 + 1, s"doc $id height")
      } else assert(fields.isEmpty, s"doc $id rejected fields null")
    }
    // all three variants actually exercised
    assert(out.flatMap(_._3.map(_._1)).toSet
      == Set("VP8 ", "VP8L", "VP8X"))
  }

  test("q_multimodal_ogg folds the variable lacing table back to the " +
      "planted payload size and unpacks the flag bits") {
    val out = Multimodal.queries("q_multimodal_ogg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None
        else Some((r.getLong(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getLong(6), r.getLong(7), r.getLong(8),
          r.getLong(9), r.getLong(10)))))
    assert(out.nonEmpty)
    out.foreach { case (id, isOgg, fields) =>
      assert(isOgg == (id % 5 != 0), s"doc $id sniff")
      if (isOgg) {
        val (ver, cont, bos, eos, gran, ser, seq2, nseg, psz) =
          fields.get
        assert(ver == 0L, s"doc $id version")
        assert(cont == (id % 13 == 0) && bos == (id % 7 == 0)
          && eos == (id % 11 == 0), s"doc $id flag bits")
        assert(gran == id * 977L && ser == id % 65536 + 1
          && seq2 == id % 1000, s"doc $id LE fields")
        assert(nseg == id % 4 + 1, s"doc $id segment count")
        // the fold result equals the planted lacing sum
        val want = (1L to nseg).map(i => (id * 31 + i * 17) % 256).sum
        assert(psz == want, s"doc $id payload size")
      } else assert(fields.isEmpty, s"doc $id rejected fields null")
    }
    // every segment-count value and every flag bit exercised
    assert(out.flatMap(_._3.map(_._8)).toSet == Set(1L, 2L, 3L, 4L))
    assert(out.exists(_._3.exists(_._2)) && out.exists(_._3.exists(_._3))
      && out.exists(_._3.exists(_._4)))
  }

  test("q_multimodal_bmp round-trips the signed height and the stride " +
      "identity holds on every accepted header") {
    val out = Multimodal.queries("q_multimodal_bmp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3),
          r.getBoolean(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getBoolean(8)))))
    assert(out.nonEmpty)
    out.foreach { case (id, isBmp, fields) =>
      assert(isBmp == (id % 5 != 0), s"doc $id sniff")
      if (isBmp) {
        val (w, hgt, td, bpp, stride, isz, ok) = fields.get
        assert(w == id % 1920 + 1, s"doc $id width")
        assert(hgt == (id * 3) % 1080 + 1, s"doc $id |height|")
        assert(td == (id % 3 == 0), s"doc $id top-down sign")
        assert(bpp == Seq(1L, 4L, 8L, 16L, 24L, 32L)((id % 6).toInt),
          s"doc $id bpp")
        assert(stride == ((bpp * w + 31) / 32) * 4 && stride % 4 == 0,
          s"doc $id stride")
        assert(isz == stride * hgt, s"doc $id image size")
        assert(ok, s"doc $id size_consistent must hold")
      } else assert(fields.isEmpty, s"doc $id rejected fields null")
    }
    // both scan directions exercised
    assert(out.exists(o => o._2 && o._3.exists(_._3)))
    assert(out.exists(o => o._2 && o._3.exists(!_._3)))
  }

  test("q_multimodal_ico round-trips both directory entries including " +
      "the 256-as-zero dimension sentinel and the offset chain") {
    val out = Multimodal.queries("q_multimodal_ico")(spark, sf).collect()
    assert(out.nonEmpty)
    val bppTab = Seq(4L, 8L, 24L, 32L)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(1) == (id % 5 != 0), s"doc $id sniff")
      if (id % 5 != 0) {
        def dim(raw: Long) = if (raw == 0) 256L else raw
        assert(r.getLong(2) == 2L, s"doc $id count")
        assert(r.getLong(3) == dim(id % 256), s"doc $id w1")
        assert(r.getLong(4) == dim((id * 7) % 256), s"doc $id h1")
        assert(r.getLong(5) == bppTab((id % 4).toInt), s"doc $id bits1")
        val bytes1 = (id % 999 + 1) * 8
        assert(r.getLong(6) == bytes1 && r.getLong(7) == 38L)
        assert(r.getLong(8) == dim((id * 3) % 256), s"doc $id w2")
        assert(r.getLong(9) == dim((id * 5) % 256), s"doc $id h2")
        assert(r.getLong(10) == bppTab(((id * 2) % 4).toInt))
        assert(r.getLong(11) == ((id * 7) % 999 + 1) * 4)
        assert(r.getLong(12) == 38L + bytes1)
        assert(r.getBoolean(13), s"doc $id chain_ok")
      } else assert(r.isNullAt(2), s"doc $id rejected fields null")
    }
    // the 0-encodes-256 sentinel path is exercised (doc 256 at sf0.001)
    assert(out.exists(r => !r.isNullAt(3) && r.getLong(3) == 256L),
      "no entry hit the 256-as-zero decode")
  }

  test("q_multimodal_avi round-trips the nested size chain and the " +
      "integer fps/duration derivations") {
    val out = Multimodal.queries("q_multimodal_avi")(spark, sf).collect()
    assert(out.nonEmpty)
    val fpsTab = Seq(10L, 24L, 25L, 30L, 60L)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(1) == (id % 5 != 0), s"doc $id sniff")
      if (id % 5 != 0) {
        val uspf = 1000000L / fpsTab((id % 5).toInt)
        val frames = id % 3600 + 1
        assert(r.getLong(2) == 80L && r.getLong(3) == 68L
          && r.getLong(4) == 56L, s"doc $id size chain")
        assert(r.getLong(5) == uspf, s"doc $id usPerFrame")
        assert(r.getLong(6) == frames && r.getLong(7) == id % 2 + 1)
        assert(r.getLong(8) == id % 1920 + 1
          && r.getLong(9) == (id * 3) % 1080 + 1)
        assert(r.getLong(10) == 1000000000L / uspf, s"doc $id fps")
        assert(r.getLong(11) == uspf * frames / 1000L, s"doc $id dur")
        assert(r.getBoolean(12), s"doc $id size_chain_ok")
      } else assert(r.isNullAt(2), s"doc $id rejected fields null")
    }
  }

  test("q_multimodal_tar round-trips the ascii-octal fields and the " +
      "whole-header checksum fold") {
    val out = Multimodal.queries("q_multimodal_tar")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(1) == (id % 5 != 0), s"doc $id sniff")
      if (id % 5 != 0) {
        val sz = id % 100000 + 1
        val mt = 1500000000L + id * 97
        assert(r.getString(2) == s"doc$id.txt", s"doc $id name")
        assert(r.getLong(3) == sz && r.getLong(4) == mt, s"doc $id oct")
        // independent checksum from the spec definition
        def octs(v: Long) =
          ("0" * 11 + java.lang.Long.toOctalString(v)).takeRight(11)
        val chk = s"doc$id.txt".getBytes("UTF-8").map(_.toLong).sum +
          octs(sz).getBytes.map(_.toLong).sum +
          octs(mt).getBytes.map(_.toLong).sum + 2007L
        assert(r.getLong(5) == chk, s"doc $id stored chksum")
        assert(r.getLong(6) == chk, s"doc $id computed chksum")
        assert(r.getBoolean(7), s"doc $id checksum_ok")
        assert(r.getString(8) == "0", s"doc $id typeflag")
      } else assert(r.isNullAt(2), s"doc $id rejected fields null")
    }
  }

  test("q_embed_isotropy equals a plain-Scala replay of the quantized " +
      "sum identity") {
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    val vecs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def dot(v: Array[Float]): Double = v
      .map(x => BigDecimal(x.toDouble * x.toDouble).setScale(10, HALF_UP))
      .foldLeft(BigDecimal(0))(_ + _).toDouble
    val qs = vecs.map { v =>
      val norm = math.sqrt(dot(v))
      v.map(x => math.floor(x.toDouble / norm * 1.0e7 + 0.5).toLong)
    }
    val dim = vecs.head.length
    val n = vecs.length.toLong
    val sd = (0 until dim).map(d => qs.map(_(d)).sum)
    val sCross = sd.map(s => BigInt(s) * BigInt(s)).sum
    val sSelf = qs.flatten.map(q => BigInt(q) * BigInt(q)).sum
    val num = sCross - sSelf
    val expectAvg = java.lang.Double.parseDouble(num.toString) /
      (n.toDouble * (n - 1).toDouble) / 1.0e14
    val r = VectorOps.queries("q_embed_isotropy")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("dim") == dim.toLong)
    assert(r.getAs[Long]("n_vecs") == n)
    assert(r.getAs[String]("s_cross") == sCross.toString)
    assert(r.getAs[String]("s_self") == sSelf.toString)
    assert(r.getAs[String]("num") == num.toString)
    assert(r.getAs[Double]("avg_pair_cos") == expectAvg)
    // unit vectors: per-vector quantized self-dot ≈ 1e14 (≤ 1e8 slack)
    assert((BigInt(sSelf.toString) - BigInt(n) * BigInt("100000000000000"))
      .abs < BigInt(n) * BigInt(200000000L), "self-dot drifted off unit")
  }

  test("q_curriculum stages are balanced, difficulty-monotone, and " +
      "partition each language") {
    import spark.implicits._
    val out = Corpus.queries("q_curriculum")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val perLang = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (lang, stages) =>
      // stages partition the language's docs
      assert(stages.map(_._3).sum == perLang(lang), s"lang $lang total")
      // ntile balance: sizes differ by at most 1
      assert(stages.map(_._3).max - stages.map(_._3).min <= 1,
        s"lang $lang balance")
      // difficulty is monotone across consecutive stages
      stages.sortBy(_._2).sliding(2).foreach { p =>
        if (p.length == 2)
          assert(p(1)._5 >= p(0)._6,
            s"lang $lang stage ${p(1)._2} min_toks below prior max")
      }
    }
  }

  test("q_lang_confusion cells partition the corpus and rows sum to 1") {
    val out = TextOps.queries("q_lang_confusion")(spark, sf).collect()
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val s = rows.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"lang $lang shares sum $s")
    }
    out.foreach(r =>
      assert(r.getAs[Boolean]("correct") ==
        (r.getString(0) == r.getString(1))))
  }

  test("q_text_hapax equals a plain-Scala per-source vocabulary replay") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("source", "text").as[(String, String)].collect()
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      val counts = rows.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity).map { case (_, v) => v.length.toLong }
      src -> (counts.size.toLong, counts.count(_ == 1L).toLong,
        counts.sum)
    }
    val out = TextOps.queries("q_text_hapax")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (vocab, hapax, toks) = expect(r.getString(0))
      assert(r.getLong(1) == vocab && r.getLong(2) == hapax
        && r.getLong(3) == toks, s"source ${r.getString(0)}")
      assert(r.getDouble(4) == hapax.toDouble / vocab)
    }
  }

  test("q_text_novelty equals a plain-Scala cross-split 3-gram replay") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    def grams(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val train = docs.filter(_._1 % 10 != 7).flatMap(d => grams(d._3)).toSet
    val expect = docs.filter(_._1 % 10 == 7)
      .map { case (id, src, text) => id -> (src, grams(text)) }
      .filter(_._2._2.nonEmpty).toMap
    val out = TextOps.queries("q_text_novelty")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (src, gs) = expect(r.getLong(0))
      val novel = gs.count(g => !train.contains(g)).toLong
      assert(r.getString(1) == src)
      assert(r.getLong(2) == gs.size.toLong, s"doc ${r.getLong(0)} grams")
      assert(r.getLong(3) == novel, s"doc ${r.getLong(0)} novel")
      assert(r.getDouble(4) == novel.toDouble / gs.size)
    }
    // the split must exercise both regimes on the fixture
    assert(out.exists(_.getLong(3) > 0))
    assert(out.exists(r => r.getLong(3) < r.getLong(2)))
  }

  test("q_source_mix_sqrt: exact isqrt law, share normalization, and " +
      "sqrt damping strictly between raw and uniform") {
    val out = TextOps.queries("q_source_mix_sqrt")(spark, sf).collect()
    assume(out.nonEmpty)
    out.foreach { r =>
      val (n, s) = (r.getLong(1), r.getLong(2))
      assert(s * s <= n && (s + 1) * (s + 1) > n,
        s"isqrt law broken for ${r.getString(0)}: n=$n s=$s")
    }
    Seq(3, 4).foreach { i =>
      val tot = out.map(_.getDouble(i)).sum
      assert(math.abs(tot - 1.0) < 1e-9, s"col $i shares sum $tot")
    }
    // √-damping: the largest source loses share, the smallest gains
    val big = out.maxBy(_.getLong(1))
    val small = out.minBy(_.getLong(1))
    if (big.getLong(1) > small.getLong(1)) {
      assert(big.getDouble(4) < big.getDouble(3))
      assert(small.getDouble(4) > small.getDouble(3))
    }
  }

  test("q_bpe_encode merges match the greedy replay and the per-source " +
      "symbol bill is exact") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("source", "text").as[(String, String)].collect()
    val wordsSrc = docs.flatMap { case (src, text) =>
      text.split(" ", -1).filter(_.nonEmpty).map(w => (src, w)) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val wc = wordsSrc.groupBy(_._1._2)
      .map { case (w, m) => w -> m.values.sum }
    def pairFreqs(symsOf: String => List[String]): Map[String, Long] =
      wc.toSeq.flatMap { case (w, n) =>
        symsOf(w).sliding(2).filter(_.size == 2)
          .map(p => (p.head + " " + p(1)) -> n)
      }.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }
    def applyMerge(syms: List[String], a: String, b: String)
        : List[String] = syms match {
      case x :: y :: rest if x == a && y == b =>
        (a + b) :: applyMerge(rest, a, b)
      case x :: rest => x :: applyMerge(rest, a, b)
      case Nil => Nil
    }
    def top(f: Map[String, Long]): String =
      f.toSeq.minBy { case (p, n) => (-n, p) }._1
    val chars = (w: String) => w.map(_.toString).toList
    val m1 = top(pairFreqs(chars))
    val Array(a1, b1) = m1.split(" ")
    val m2 = top(pairFreqs(w => applyMerge(chars(w), a1, b1)))
    val Array(a2, b2) = m2.split(" ")
    def encode(w: String): Int =
      applyMerge(applyMerge(chars(w), a1, b1), a2, b2).length
    val out = TextOps.queries("q_bpe_encode")(spark, sf).collect()
    assert(out.map(_.getString(4)).distinct.toSeq == Seq(m1))
    assert(out.map(_.getString(5)).distinct.toSeq == Seq(m2))
    val bySrc = wordsSrc.groupBy(_._1._1)
    assert(out.map(_.getString(0)).toSet == bySrc.keySet)
    out.foreach { r =>
      val rows = bySrc(r.getString(0))
      val nTok = rows.values.sum
      val nChars = rows.map { case ((_, w), n) => n * w.length }.sum
      val nSyms = rows.map { case ((_, w), n) => n * encode(w) }.sum
      assert(r.getLong(1) == nTok, s"${r.getString(0)} tokens")
      assert(r.getLong(2) == nChars, s"${r.getString(0)} chars")
      assert(r.getLong(3) == nSyms, s"${r.getString(0)} syms")
      assert(r.getDouble(6) == nSyms.toDouble / nChars)
      // both merges must actually compress
      assert(nSyms < nChars)
    }
  }

  test("q_quality_cascade charges each doc to its first failing gate " +
      "and stays in lockstep with the component gates") {
    import spark.implicits._
    val gLang = TextOps.queries("q_text_langid")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(2) != r.getString(1))).toMap
    val gGopher = graft.operators.Quality
      .gopherMetrics(Tables.table(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> !r.getBoolean(5)).toMap
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect()
    val gDup = docs.groupBy(_._2).iterator.flatMap { case (_, rs) =>
      val m = rs.map(_._1).min
      rs.map(r => r._1 -> (r._1 != m))
    }.toMap
    val gQual = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val score = (toks.distinct.length.toDouble / toks.length) *
        (math.min(toks.length, 100).toDouble / 100)
      id -> !(score > 0.3)
    }.toMap
    val out = TextOps.queries("q_quality_cascade")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == docs.map(_._1).toSet)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(1) == gLang(id), s"$id g_lang")
      assert(r.getBoolean(2) == gGopher(id), s"$id g_gopher")
      assert(r.getBoolean(3) == gDup(id), s"$id g_dup")
      assert(r.getBoolean(4) == gQual(id), s"$id g_quality")
      val expect =
        if (gLang(id)) "lang"
        else if (gGopher(id)) "gopher"
        else if (gDup(id)) "exact_dup"
        else if (gQual(id)) "quality"
        else "kept"
      assert(r.getString(5) == expect, s"$id first_failed")
      assert(r.getBoolean(6) == (expect == "kept"), s"$id kept")
    }
    // the cascade must actually discriminate on the fixture
    assert(out.map(_.getString(5)).distinct.length >= 2)
  }

  test("q_source_budget is an exact Hamilton apportionment: quotas sum " +
      "to the budget and extras go to the largest remainders") {
    val B = BigInt(1000000)
    val out = TextOps.queries("q_source_budget")(spark, sf).collect()
    assume(out.nonEmpty)
    val tot = BigInt(out.map(_.getLong(1)).sum)
    out.foreach { r =>
      val n = BigInt(r.getLong(1))
      assert(BigInt(r.getLong(2)) == B * n / tot, s"${r.getString(0)} base")
      assert(BigInt(r.getLong(3)) == B * n % tot, s"${r.getString(0)} rem")
      assert(r.getLong(4) - r.getLong(2) == 0L
        || r.getLong(4) - r.getLong(2) == 1L)
    }
    assert(out.map(_.getLong(4)).sum == 1000000L, "allocs must sum to B")
    // every +1 remainder is >= every +0 remainder (ties broken by name)
    val plus = out.filter(r => r.getLong(4) > r.getLong(2))
      .map(_.getLong(3))
    val zero = out.filter(r => r.getLong(4) == r.getLong(2))
      .map(_.getLong(3))
    if (plus.nonEmpty && zero.nonEmpty)
      assert(plus.min >= zero.max)
  }

  test("q_stats_benford digits partition the positive orders") {
    val out = StatsTests.queries("q_stats_benford")(spark, sf).collect()
    val total = Tables.table(spark, sf, "orders")
      .filter(col("o_totalprice") > 0).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    assert(out.forall(r => ('1' to '9').map(_.toString)
      .contains(r.getString(0))))
    val s = out.map(_.getAs[Double]("share")).sum
    assert(math.abs(s - 1.0) < 1e-9)
  }

  test("q_multimodal_tiff dispatches on the II/MM byte-order marker, " +
      "follows the variable IFD offset, and scans entries by tag") {
    import spark.implicits._
    val out = Multimodal.queries("q_multimodal_tiff")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    assert(docs.nonEmpty && out.size == docs.length)
    docs.foreach { case (id, nChars) =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id should not sniff as TIFF")
        assert(r.isNullAt(2) && r.isNullAt(4) && r.isNullAt(5))
      } else {
        assert(r.getBoolean(1), s"doc $id should sniff as TIFF")
        assert(r.getString(2) == (if (id % 2 == 0) "LE" else "BE"),
          s"byte order doc $id")
        val n = if (id % 3 == 0) 4L else 3L
        assert(r.getLong(3) == n, s"entry count doc $id")
        assert(r.getLong(4) == nChars, s"width doc $id")
        assert(r.getLong(5) == nChars / 2 + 1, s"height doc $id")
        assert(r.getLong(6) == 1 + id % 2, s"compression doc $id")
        if (id % 3 == 0) assert(r.getLong(7) == 300L, s"xres doc $id")
        else assert(r.isNullAt(7), s"xres must be absent for doc $id")
      }
    }
  }

  test("q_quality_linear equals a plain-Scala hashed linear scorer") {
    import spark.implicits._
    val out = Quality.queries("q_quality_linear")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("source", "lang", "text")
      .as[(String, String, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(tok: String): Long = {
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      ("0123456789abcdef".indexOf(hex.charAt(0)).toLong * 2) - 15
    }
    val expected = docs.filter(_._3 != null)
      .map { case (src, lg, text) =>
        (src, lg, text.split(" ", -1).map(weight).sum)
      }
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) =>
        k -> (rows.length.toLong, rows.count(_._3 > 0).toLong,
          rows.map(_._3).sum)
      }
    assert(out == expected)
  }

  test("q_window_rolling_median equals a plain-Scala trailing-5 median") {
    import spark.implicits._
    val out = EventAnalytics.queries("q_window_rolling_median")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    val evs = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .as[(Long, Long, Long, Option[Double])].collect()
      .collect { case (u, e, t, Some(v)) => (u, e, t, v) }
    evs.groupBy(_._1).foreach { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      ordered.zipWithIndex.foreach { case ((_, eid, _, _), i) =>
        val win = ordered.slice(math.max(0, i - 4), i + 1).map(_._4)
        val med = win.sorted.apply((win.length + 1) / 2 - 1)
        assert(out((u, eid)) == ((win.length.toLong, med)),
          s"user $u event $eid")
      }
    }
    assert(out.size == evs.length)
  }

  test("q_ann_ivf_trained matches a plain-Scala Lloyd-step recomputation") {
    import spark.implicits._
    val out = VectorOps.queries("q_ann_ivf_trained")(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    val vecs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    val emb = vecs.toMap
    def dot10(a: Array[Float], b: Array[Float]): BigDecimal =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble * y.toDouble)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    // seed assignment (first 8 vectors), exact-decimal argmax
    val cents = (0L until 8L).map(c => c -> emb(c))
    def seedCluster(v: Array[Float]): Long =
      cents.map { case (c, ce) => (dot10(v, ce), c) }
        .maxBy { case (dt, c) => (dt, -c) }._2
    val byCluster = vecs.groupBy { case (_, v) => seedCluster(v) }
    // Lloyd means: Det.davg(scale 7) per (cluster, dim)
    val trained = byCluster.view.mapValues { members =>
      (0 until 64).map { i =>
        val xs = members.map(_._2(i).toDouble)
        (xs.map(x => BigDecimal(x)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
          .toDouble) / xs.length
      }.toArray
    }.toMap
    // trained assignment: scale-8 fold of float × mean
    def tdot(v: Array[Float], cent: Array[Double]): BigDecimal =
      v.zip(cent).map { case (x, w) =>
        BigDecimal(x.toDouble * w)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    def trainedCluster(v: Array[Float]): Long =
      trained.toSeq.map { case (c, ce) => (tdot(v, ce), c) }
        .maxBy { case (dt, c) => (dt, -c) }._2
    val probeC = trainedCluster(emb(0L))
    val expect = vecs.filter(_._1 != 0L)
      .filter { case (_, v) => trainedCluster(v) == probeC }
      .map { case (id, v) => (dot10(v, emb(0L)), id) }
      .sortBy { case (dt, id) => (-dt, id) }.take(10).map(_._2).toSeq
    assert(out == expect)
    assert(out.size == 10)
  }

  test("q_rolling_distinct equals the direct trailing-7-day count") {
    import spark.implicits._
    val out = EventAnalytics.queries("q_rolling_distinct")(spark, sf)
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val du = Tables.table(spark, sf, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
      .map { case (d, u) => (d.toLocalDate, u) }
    val days = du.map(_._1).distinct
    days.foreach { d =>
      val expect = du.filter(p =>
        !p._1.isAfter(d) && !p._1.isBefore(d.minusDays(6)))
        .map(_._2).distinct.length.toLong
      assert(out(d) == expect, s"day $d")
    }
    assert(out.size == days.length)
  }

  test("q_graph_triangles credits each a<b<c triangle's corners once") {
    val out = Corpus.queries("q_graph_triangles")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = TextDedup.nearDuplicates(
        Tables.table(spark, sf, "documents"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cnt = scala.collection.mutable.Map.empty[Long, Long]
    for ((a, b) <- edges; (b2, c) <- edges
         if b2 == b && edges.contains((a, c)))
      Seq(a, b, c).foreach(n => cnt(n) = cnt.getOrElse(n, 0L) + 1L)
    assert(out == cnt.toMap)
    assert(out.nonEmpty) // the fixture's dup cliques do contain triangles
  }

  test("q_join_bloom equals the plain join and the prefilter is " +
      "selective (no false negatives by construction)") {
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getDouble(2))
    val out = Sketches.queries("q_join_bloom")(spark, sf).collect().map(key)
    val plain = Tables.table(spark, sf, "lineitem")
      .join(Sketches.urgentOrders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(asc_nulls_last("l_returnflag"))
      .collect().map(key)
    assert(out.sameElements(plain))
    // the bloom admits every true match, and actually prunes: survivors
    // are at most the true-match count plus the false-positive tail
    val total = Tables.table(spark, sf, "lineitem").count()
    val survivors = Sketches.bloomPrefiltered(spark, sf).count()
    val trueMatches = Tables.table(spark, sf, "lineitem")
      .join(Sketches.urgentOrders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(survivors >= trueMatches)
    assert(survivors < total / 2, s"bloom pruned nothing: $survivors/$total")
  }

  test("q_agg_bitmap popcount distinct equals plain countDistinct") {
    val out = Breadth.queries("q_agg_bitmap")(spark, sf).collect()
    val direct = Tables.table(spark, sf, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val ty = r.getString(0)
      assert(r.getLong(1) == direct(ty), s"bitmap count for $ty")
      assert(r.getLong(2) == direct(ty), s"per-word count for $ty")
    }
    assert(out.length == direct.size)
  }

  test("q_sample_weighted matches a plain-Scala recomputation and is " +
      "partitioning-invariant by construction") {
    import spark.implicits._
    val out = Breadth.queries("q_sample_weighted")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
      .as[(Long, String, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1000L
    }
    docs.groupBy(_._2).foreach { case (lang, rows) =>
      val w = rows.map { case (id, _, nc) =>
        (id, math.min(900L, math.max(100L, nc / 5L)))
      }
      val kept = w.filter { case (id, wt) => bucket(id) < wt }
      val expect = (rows.length.toLong, kept.length.toLong,
        w.map(_._2).sum, kept.map(_._1).sum)
      assert(out(lang) == expect, s"lang $lang")
    }
  }

  test("q_dedup_bands_curve: candidate sets nest (wider bands ⊆ " +
      "narrower) and the 4-band point equals q_dedup_pairs") {
    val out = TextOps.queries("q_dedup_bands_curve")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // a collision in a 4-wide band implies collisions in its 2-wide
    // sub-bands, which imply collisions in their 1-wide sub-bands —
    // so candidates are non-increasing as bands get wider
    assert(out(8L)._1 >= out(4L)._1 && out(4L)._1 >= out(2L)._1)
    out.values.foreach { case (cand, ver) => assert(ver <= cand) }
    // every config sees the SAME verified-at-0.7 pairs it can reach;
    // the 4×2 point is exactly the declared q_dedup_pairs
    val pairs = TextOps.queries("q_dedup_pairs")(spark, sf).count()
    assert(out(4L)._2 == pairs)
    assert(out(8L)._1 > 0)
  }

  test("q_dedup_lsh_tune: p-columns equal the bands-curve collision " +
      "model 1-(1-J^r)^b, bucket telemetry is monotone in bands, and " +
      "the recommended flag follows the declared rule") {
    val rows = TextOps.queries("q_dedup_lsh_tune")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val b = r.getAs[Long]("bands")
      val rr = r.getAs[Long]("rows_per_band")
      assert(b * rr == 8L, "configs factor the 8-hash signature")
      val model07 =
        1.0 - math.pow(1.0 - math.pow(0.7, rr.toDouble), b.toDouble)
      val model03 =
        1.0 - math.pow(1.0 - math.pow(0.3, rr.toDouble), b.toDouble)
      assert(math.abs(r.getAs[Double]("p_at_07") - model07) < 1e-12)
      assert(math.abs(r.getAs[Double]("p_at_03") - model03) < 1e-12)
      assert(r.getAs[Double]("p_at_07") > r.getAs[Double]("p_at_03"))
      assert(r.getAs[Long]("pair_cost") >= 0L)
    }
    // more bands = more collisions: the measured pair bill is
    // non-increasing as bands narrow (the nesting argument of the
    // bands-curve test, read off the bucket histogram)
    val byBands = rows.map(r =>
      r.getAs[Long]("bands") -> r.getAs[Long]("pair_cost")).toMap
    assert(byBands(8L) >= byBands(4L) && byBands(4L) >= byBands(2L))
    // recommendation rule: cheapest config clearing p(0.7) >= 0.9,
    // ties to more bands; fall back to best recall if none clears
    val ordered = rows.sortBy(r => (
      if (r.getAs[Double]("p_at_07") >= 0.9) 0 else 1,
      r.getAs[Long]("pair_cost"), -r.getAs[Long]("bands")))
    val rec = rows.filter(_.getAs[Boolean]("recommended"))
    assert(rec.length == 1, "exactly one recommended config")
    assert(rec.head.getAs[Long]("bands") ==
      ordered.head.getAs[Long]("bands"))
  }

  test("q_stats_f_test: F equals the plain-Scala variance ratio and " +
      "dfs are the group sizes minus one") {
    import spark.implicits._
    val out = StatsTests.queries("q_stats_f_test")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val vals = Tables.table(spark, sf, "events")
      .filter($"value".isNotNull && $"event_type".isin("click", "view"))
      .select($"event_type", $"value").as[(String, Double)].collect()
    def svar(xs: Seq[Double]): Double = {
      val q = xs.map(x => BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP))
      val n = q.size
      val s = q.sum
      ((q.map(x => x * x).sum * n - s * s)
        / (BigDecimal(n) * (n - 1))).toDouble
    }
    val c = vals.filter(_._1 == "click").map(_._2).toSeq
    val v = vals.filter(_._1 == "view").map(_._2).toSeq
    assert(r.getAs[Long]("n1") == c.size && r.getAs[Long]("n2") == v.size)
    assert(r.getAs[Long]("df1") == c.size - 1)
    val expect = svar(c) / svar(v)
    assert(math.abs(r.getAs[Double]("f_stat") - expect)
      <= 1e-9 * math.abs(expect))
  }

  test("q_ts_adf: beta/t recover a plain-Scala OLS of the daily " +
      "difference on the lag level") {
    import spark.implicits._
    val out = EventAnalytics.queries("q_ts_adf")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val daily = Tables.table(spark, sf, "events")
      .groupBy(org.apache.spark.sql.functions.to_date($"ts").as("day"))
      .count().orderBy("day")
      .select($"day".cast("string"), $"count").as[(String, Long)]
      .collect()
    val byDay = daily.toMap
    val pairs = daily.flatMap { case (day, x) =>
      val next = java.time.LocalDate.parse(day).plusDays(1).toString
      byDay.get(next).map(x2 => (x.toDouble, (x2 - x).toDouble))
    }
    val n = pairs.length
    val (sz, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val szy = pairs.map(p => p._1 * p._2).sum
    val szz = pairs.map(p => p._1 * p._1).sum
    val beta = (n * szy - sz * sy) / (n * szz - sz * sz)
    assert(r.getAs[Long]("n_pairs") == n)
    assert(math.abs(r.getAs[Double]("beta") - beta)
      <= 1e-9 * math.abs(beta) + 1e-12)
    // a mean-reverting daily count series must reject the unit root
    // direction-wise: beta < 0 and t < 0 on the fixture
    assert(r.getAs[Double]("beta") < 0 && r.getAs[Double]("t_stat") < 0)
  }

  test("q_ts_spectral_entropy lies in [0, 2] bits and flatness is " +
      "entropy/2") {
    val r = EventAnalytics.queries("q_ts_spectral_entropy")(spark, sf)
      .collect().head
    val h = r.getAs[Double]("spectral_entropy_bits")
    assert(h >= -1e-9 && h <= 2.0 + 1e-9)
    assert(math.abs(r.getAs[Double]("flatness") - h / 2.0) < 1e-12)
    assert(r.getAs[Long]("n_periods") >= 1L
      && r.getAs[Long]("n_periods") <= 4L)
  }

  test("q_sketch_ams: the tug-of-war estimate lands within the " +
      "Chebyshev band of the exact F2") {
    val r = Sketches.queries("q_sketch_ams")(spark, sf).collect().head
    val exact = r.getAs[Double]("f2_exact")
    val est = r.getAs[Double]("f2_est")
    assert(exact > 0 && est > 0)
    // Var(mean of 16) <= 2 F2^2 / 16 => sd <= 0.354 F2; allow 4 sd
    assert(math.abs(est - exact) <= 1.5 * exact,
      s"est $est vs exact $exact")
    assert(r.getAs[Long]("n_counters") == 16L)
  }

  test("q_graph_closeness: seeds are the 5 lowest graph nodes, the " +
      "min seed's hop counts equal q_graph_bfs_layers, and harmonic " +
      "assembles the fixed rational tree") {
    val rows = Corpus.queries("q_graph_closeness")(spark, sf).collect()
    assert(rows.length == 5)
    val layers = Corpus.queries("q_graph_bfs_layers")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val minSeed = layers.map(_._1).min // bfs seeds the lowest node
    val first = rows.head
    assert(first.getAs[Long]("seed") == minSeed)
    val hist = layers.groupBy(_._2).map { case (d, xs) => d -> xs.size }
    (1 to 4).foreach { dd =>
      assert(first.getAs[Long](s"c$dd") == hist.getOrElse(dd.toLong, 0))
    }
    rows.foreach { r =>
      val h = r.getAs[Long]("c1") / 1.0 + r.getAs[Long]("c2") / 2.0 +
        r.getAs[Long]("c3") / 3.0 + r.getAs[Long]("c4") / 4.0
      assert(math.abs(r.getAs[Double]("harmonic") - h) < 1e-12)
    }
  }

  test("q_tokenizer_fertility: every word emits at least one run, so " +
      "fertility >= 1 per language") {
    val rows = TextOps.queries("q_tokenizer_fertility")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"))
    }
  }

  test("q_multimodal_gzip: synthesized headers parse back to their " +
      "generating fields; decoys are rejected") {
    val rows = Multimodal.queries("q_multimodal_gzip")(spark, sf)
      .collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) assert(!r.getAs[Boolean]("is_gzip"))
      else {
        assert(r.getAs[Boolean]("is_gzip"))
        assert(r.getAs[Long]("mtime") == 1700000000L + id)
        assert(r.getAs[Long]("xfl") == (if (id % 4 == 0) 2L else 4L))
        val os = Seq(3L, 11L, 7L, 0L)((id % 4).toInt)
        assert(r.getAs[Long]("os_id") == os)
        if (id % 2 == 0) {
          assert(r.getAs[Boolean]("has_fname"))
          assert(r.getAs[String]("fname") == s"d$id.txt")
        } else assert(!r.getAs[Boolean]("has_fname"))
      }
    }
  }

  test("q_multimodal_parquet: envelope fields parse back to their " +
      "generating sizes; decoys are rejected") {
    val rows = Multimodal.queries("q_multimodal_parquet")(spark, sf)
      .collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) assert(!r.getAs[Boolean]("is_parquet"))
      else {
        assert(r.getAs[Boolean]("is_parquet"))
        assert(r.getAs[Long]("footer_len") == id % 128 + 16)
        assert(r.getAs[Long]("data_len") == id % 64 + 8)
        assert(r.getAs[Boolean]("footer_fits"))
        assert(r.getAs[Long]("total_len") ==
          (id % 64 + 8) + (id % 128 + 16) + 12)
      }
    }
  }

  test("q_stats_randomization: observed diff matches a plain " +
      "recomputation, p in [0,1], splits bounded by 32") {
    import spark.implicits._
    val r = StatsTests.queries("q_stats_randomization")(spark, sf)
      .collect().head
    val vals = Tables.table(spark, sf, "events")
      .filter($"value".isNotNull && $"event_type".isin("click", "view"))
      .select($"event_type", $"value").as[(String, Double)].collect()
    def q4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP)
    val c = vals.filter(_._1 == "click").map(v => q4(v._2))
    val v = vals.filter(_._1 == "view").map(v => q4(v._2))
    val obs = (c.sum / c.size - v.sum / v.size).toDouble
    assert(r.getAs[Long]("n1") == c.size && r.getAs[Long]("n2") == v.size)
    assert(math.abs(r.getAs[Double]("obs_diff") - obs)
      <= 1e-9 * math.abs(obs) + 1e-12)
    val p = r.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0)
    assert(r.getAs[Long]("n_splits") >= 1L
      && r.getAs[Long]("n_splits") <= 32L)
    assert(r.getAs[Long]("n_ge") <= r.getAs[Long]("n_splits"))
  }

  test("q_stats_randomization degenerate corpora: one-sided and " +
      "all-NULL pooled events yield ZERO rows on the Spark side — the " +
      "oracle's obs/diffs CTEs go empty on the same corpora " +
      "(scripts/check_degenerate.py), so both engines agree (r12 " +
      "verdict item 1a)") {
    import spark.implicits._
    // Same two corpora as scripts/check_degenerate.py builds in DuckDB.
    def corpus(oneSided: Boolean): org.apache.spark.sql.DataFrame =
      spark.range(50).select(
        $"id".as("event_id"),
        expr("timestamp_micros(1704067200000000 + id * 1000000)")
          .as("ts"),
        $"id".as("user_id"),
        (if (oneSided) lit("click")
         else when($"id" % 2 === 0, "click").otherwise("view"))
          .as("event_type"),
        (if (oneSided) ($"id".cast("double") / 7.0)
         else lit(null).cast("double")).as("value"),
        lit("").as("props"))
    Seq(true, false).foreach { oneSided =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_degen_").toString
      corpus(oneSided).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      val out = StatsTests
        .queries("q_stats_randomization")(spark, dir).collect()
      assert(out.isEmpty,
        s"degenerate corpus (oneSided=$oneSided) must yield 0 rows, " +
          s"got ${out.length}")
    }
  }

  test("q_stats_cohens_d: d equals the mean gap over the pooled SD " +
      "recomputed in plain Scala") {
    import spark.implicits._
    val r = StatsTests.queries("q_stats_cohens_d")(spark, sf)
      .collect().head
    val vals = Tables.table(spark, sf, "events")
      .filter($"value".isNotNull && $"event_type".isin("click", "view"))
      .select($"event_type", $"value").as[(String, Double)].collect()
    def q4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val c = vals.filter(_._1 == "click").map(v => q4(v._2))
    val v = vals.filter(_._1 == "view").map(v => q4(v._2))
    def ss(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }
    val sp = math.sqrt((ss(c) + ss(v)) / (c.length + v.length - 2))
    val d = (c.sum / c.length - v.sum / v.length) / sp
    assert(math.abs(r.getAs[Double]("cohens_d") - d)
      <= 1e-6 * math.abs(d) + 1e-9)
    assert(r.getAs[Double]("sd_pooled") > 0)
  }

  test("q_ts_hurst: span-adaptive bank is {4,8,16} on the 30-day " +
      "fixture, R/S grows with w, and the exponent is a plausible " +
      "[0,1] long-memory reading") {
    val r = EventAnalytics.queries("q_ts_hurst")(spark, sf)
      .collect().head
    val nDays = Tables.table(spark, sf, "events")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"))
      .distinct().count()
    assert(r.getAs[Long]("n_days") == nDays)
    // M = max(4, floor(log2(30/2))) = 4 → the historical {4,8,16}
    assert(r.getAs[Long]("n_bank") == 3L)
    assert(r.getAs[Long]("w_max") == 16L)
    // full windows only, MINUS any zero-variance window (excluded by
    // convention) — total bounded by Σ floor(n/w), nonzero on fixture
    val nwTotal = r.getAs[Long]("nw_total")
    assert(nwTotal >= 3L && nwTotal <= nDays / 4 + nDays / 8 + nDays / 16)
    // R/S grows with w for any non-degenerate series
    assert(r.getAs[Double]("rs_wmin") > 0)
    assert(r.getAs[Double]("rs_wmax") > r.getAs[Double]("rs_wmin"))
    val h = r.getAs[Double]("hurst")
    assert(h > 0.0 && h < 1.0, s"hurst $h outside (0,1)")
  }

  test("q_ts_hurst: a 300-day production span extends the bank to " +
      "w_max=128 automatically (the r11 span-adaptivity requirement)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("hurst_span").toString
    // deterministic non-degenerate daily pattern over 300 days
    val rows = (0 until 300).flatMap { day =>
      val cnt = 3 + (day % 7) + ((day * day) % 11) % 3
      (0 until cnt).map { k =>
        (day.toLong * 100 + k,
          java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(2024, 1, 1, 1, 0)
              .plusDays(day.toLong)),
          k.toLong, "click", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EventAnalytics.queries("q_ts_hurst")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_days") == 300L)
    // M = max(4, floor(log2(150))) = 7 → bank {4,8,16,32,64,128}
    assert(r.getAs[Long]("w_max") == 128L,
      s"wider bank must engage on the 10x span, got w_max=" +
        r.getAs[Long]("w_max"))
    assert(r.getAs[Long]("n_bank") == 6L)
    val h = r.getAs[Double]("hurst")
    assert(h > 0.0 && h < 1.0, s"hurst $h outside (0,1)")
  }

  test("q_stats_bartlett matches a plain-Scala recomputation of T and C " +
      "on the 1e-6 variance grid") {
    import spark.implicits._
    val r = StatsTests.queries("q_stats_bartlett")(spark, sf)
      .collect().head
    val groups = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull
        && col("event_type").isin("click", "view", "purchase"))
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(v =>
        BigDecimal(v._2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .*(10000).toLongExact)).toMap
    val tys = Seq("click", "view", "purchase")
    val ns = tys.map(t => groups(t).length.toLong)
    def s2(vs: Array[Long]): Double = {
      val n = vs.length.toLong
      val q = vs.map(v => BigInt(v) * BigInt(v)).sum
      val sv = BigInt(vs.sum)
      (BigInt(n) * q - sv * sv).toDouble / (n.toDouble * (n - 1)) / 1e8
    }
    val s2s = tys.map(t => s2(groups(t)))
    val nTot = ns.sum
    val sp = tys.indices.map(i => (ns(i) - 1) * s2s(i)).sum / (nTot - 3)
    def lnq(x: Double): Double =
      math.log(math.max(1L, math.floor(x * 1e6 + 0.5).toLong)
        .toDouble / 1e6) + math.log(1e6) - math.log(1e6)
    val tRaw = (nTot - 3) * lnq(sp) -
      tys.indices.map(i => (ns(i) - 1) * lnq(s2s(i))).sum
    val c = 1.0 + (tys.indices.map(i => 1.0 / (ns(i) - 1)).sum
      - 1.0 / (nTot - 3)) / 6.0
    assert(r.getAs[Long]("n1") == ns(0) && r.getAs[Long]("n2") == ns(1)
      && r.getAs[Long]("n3") == ns(2))
    tys.indices.foreach(i => assert(
      math.abs(r.getAs[Double](s"s2_${i + 1}") - s2s(i))
        <= 1e-9 * s2s(i)))
    assert(math.abs(r.getAs[Double]("t_raw") - tRaw)
      <= 1e-5 * math.abs(tRaw) + 1e-7, s"t_raw ${r.getAs[Double]("t_raw")} vs $tRaw")
    assert(math.abs(r.getAs[Double]("c_factor") - c) <= 1e-12)
    val b = r.getAs[Double]("bartlett_stat")
    assert(b >= 0 && math.abs(b - tRaw / c) <= 1e-9 * math.abs(b) + 1e-9)
  }

  test("q_stats_ks_uniform matches a plain-Scala one-sample KS replay " +
      "against the observed-range uniform") {
    import spark.implicits._
    val rows = StatsTests.queries("q_stats_ks_uniform")(spark, sf)
      .collect()
    val byType = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == byType.keySet)
    rows.foreach { r =>
      val vs = byType(r.getString(0)).map(_._2).sorted
      val n = vs.length
      val (a, b) = (vs.head, vs.last)
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Double]("vmin") == a && r.getAs[Double]("vmax") == b)
      // group by distinct value, walk jump points
      val pts = vs.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (v, g) => (v, g.length) }
      var (c, dp, dm) = (0L, Double.MinValue, Double.MinValue)
      pts.foreach { case (v, m) =>
        val f = (v - a) / (b - a)
        dm = math.max(dm, f - c.toDouble / n)
        c += m
        dp = math.max(dp, c.toDouble / n - f)
      }
      assert(math.abs(r.getAs[Double]("d_plus") - dp) <= 1e-12, "D+")
      assert(math.abs(r.getAs[Double]("d_minus") - dm) <= 1e-12, "D-")
      val dStat = math.max(dp, dm)
      assert(math.abs(r.getAs[Double]("d_stat") - dStat) <= 1e-12)
      assert(math.abs(r.getAs[Double]("k_stat")
        - math.sqrt(n.toDouble) * dStat) <= 1e-9)
      assert(dStat >= 0.0 && dStat <= 1.0)
    }
  }

  test("q_stats_dunn reassembles from q_stats_kruskal's own exact " +
      "pieces, and the pairs are consistent with the omnibus H") {
    val k = StatsTests.queries("q_stats_kruskal")(spark, sf)
      .collect().head
    val r2 = Map(
      "click" -> BigInt(k.getAs[String]("r2_click")),
      "view" -> BigInt(k.getAs[String]("r2_view")),
      "purchase" -> BigInt(k.getAs[String]("r2_purchase")))
    val n = Map("click" -> k.getAs[Long]("n_click"),
      "view" -> k.getAs[Long]("n_view"),
      "purchase" -> k.getAs[Long]("n_purchase"))
    val nAll = n.values.sum
    val tt = BigInt(k.getAs[String]("t_ties")).toDouble
    val rows = StatsTests.queries("q_stats_dunn")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val Array(a, _, b) = r.getAs[String]("pair").split("_")
      assert(r.getAs[Long]("n_a") == n(a) && r.getAs[Long]("n_b") == n(b))
      val mra = r2(a).toDouble / (2.0 * n(a))
      val mrb = r2(b).toDouble / (2.0 * n(b))
      assert(math.abs(r.getAs[Double]("mrank_a") - mra) <= 1e-9 * mra)
      assert(math.abs(r.getAs[Double]("mrank_b") - mrb) <= 1e-9 * mrb)
      val sig2 = (nAll.toDouble * (nAll + 1.0) / 12.0
        - tt / (12.0 * (nAll - 1.0))) * (1.0 / n(a) + 1.0 / n(b))
      val z = (mra - mrb) / math.sqrt(sig2)
      assert(math.abs(r.getAs[Double]("z_dunn") - z)
        <= 1e-9 * math.abs(z) + 1e-12,
        s"${r.getAs[String]("pair")}: ${r.getAs[Double]("z_dunn")} vs $z")
    }
  }

  test("q_ts_sample_entropy matches a plain-Scala SampEn(m=1) replay " +
      "on the daily series") {
    import spark.implicits._
    val r = EventAnalytics.queries("q_ts_sample_entropy")(spark, sf)
      .collect().head
    val daily = Tables.table(spark, sf, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .orderBy("day").select("x").as[Long].collect()
    val n = daily.length.toLong
    val rr = math.max(1L, daily.sum / math.max(5 * n, 1L))
    val f = daily.dropRight(1).zip(daily.drop(1))
    var (bp, ap) = (0L, 0L)
    for (i <- f.indices; j <- i + 1 until f.length) {
      if (math.abs(f(i)._1 - f(j)._1) <= rr) {
        bp += 1
        if (math.abs(f(i)._2 - f(j)._2) <= rr) ap += 1
      }
    }
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("r") == rr)
    assert(r.getAs[Long]("b_pairs") == bp)
    assert(r.getAs[Long]("a_pairs") == ap)
    assert(ap > 0, "fixture must exercise the matched-template path")
    val expected = -math.log(ap.toDouble / bp.toDouble)
    assert(math.abs(r.getAs[Double]("sampen") - expected)
      <= 1e-5 * expected + 1e-7,
      s"sampen ${r.getAs[Double]("sampen")} vs $expected")
  }

  test("q_ts_granger matches a plain-Scala 2-regressor OLS replay " +
      "(restricted vs unrestricted SSE, F)") {
    import spark.implicits._
    val r = EventAnalytics.queries("q_ts_granger")(spark, sf)
      .collect().head
    val daily = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("p"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c"))
      .orderBy("day").select("p", "c").as[(Long, Long)].collect()
    val trip = daily.dropRight(1).zip(daily.drop(1))
      .map { case ((p0, c0), (p1, _)) => (p0, c0, p1) }
    val n = trip.length.toDouble
    def m(f: ((Long, Long, Long)) => Double): Double = trip.map(f).sum
    val (s1, s2, sy) = (m(_._1.toDouble), m(_._2.toDouble),
      m(_._3.toDouble))
    val c11 = n * m(t => t._1.toDouble * t._1) - s1 * s1
    val c22 = n * m(t => t._2.toDouble * t._2) - s2 * s2
    val c12 = n * m(t => t._1.toDouble * t._2) - s1 * s2
    val c1y = n * m(t => t._1.toDouble * t._3) - s1 * sy
    val c2y = n * m(t => t._2.toDouble * t._3) - s2 * sy
    val cyy = n * m(t => t._3.toDouble * t._3) - sy * sy
    val dd = c11 * c22 - c12 * c12
    val beta = (c22 * c1y - c12 * c2y) / dd
    val gamma = (c11 * c2y - c12 * c1y) / dd
    val sseU = cyy - beta * c1y - gamma * c2y
    val sseR = cyy - c1y * c1y / c11
    val f = (sseR - sseU) / (sseU / (n - 3))
    assert(r.getAs[Long]("n") == trip.length.toLong)
    assert(math.abs(r.getAs[Double]("beta") - beta)
      <= 1e-9 * math.abs(beta) + 1e-12)
    assert(math.abs(r.getAs[Double]("gamma") - gamma)
      <= 1e-9 * math.abs(gamma) + 1e-12)
    assert(math.abs(r.getAs[Double]("f_granger") - f)
      <= 1e-6 * math.abs(f) + 1e-9,
      s"F ${r.getAs[Double]("f_granger")} vs $f")
    assert(r.getAs[Double]("nsse_u") > 0
      && r.getAs[Double]("nsse_r") >= r.getAs[Double]("nsse_u") - 1e-6)
  }

  test("q_multimodal_webm recovers the synthesized varint width, header " +
      "size, and DocType; decoys rejected") {
    val rows = Multimodal.queries("q_multimodal_webm")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) assert(!r.getAs[Boolean]("is_ebml"), s"doc $id")
      else {
        assert(r.getAs[Boolean]("is_ebml"), s"doc $id")
        assert(r.getAs[Long]("size_width") == id % 4 + 1, s"doc $id width")
        val dt = if (id % 3 == 0) "matroska" else "webm"
        assert(r.getAs[Long]("header_size") == dt.length + 3L,
          s"doc $id size")
        assert(r.getAs[Boolean]("dt_ok"), s"doc $id dt_ok")
        assert(r.getAs[String]("doctype") == dt, s"doc $id doctype")
        assert(r.getAs[Boolean]("is_webm") == (dt == "webm"), s"doc $id")
      }
    }
  }

  test("q_text_winnow matches a plain-Scala winnowing recomputation") {
    import spark.implicits._
    val out = TextOps.queries("q_text_winnow")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(_._2 != null)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (k, w) = (3, 4)
    val fps = docs.flatMap { case (id, tx) =>
      val t = tx.split(" ", -1)
      if (t.length < k + w - 1) None
      else {
        val grams = t.sliding(k).map(g => md5(g.mkString(" "))).toVector
        Some(id -> grams.sliding(w).map(_.min).toVector.distinct)
      }
    }.toMap
    val counts = fps.toSeq.flatMap { case (id, f) => f.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    fps.foreach { case (id, f) =>
      val expect = (f.size.toLong, f.count(counts(_) > 1).toLong)
      assert(out(id) == expect, s"doc $id")
    }
    assert(out.size == fps.size)
    // the winnowing guarantee on the fixture: at least one doc pair
    // shares a fingerprint (the corpus contains near-dup templates)
    assert(counts.values.exists(_ > 1))
  }

  test("q_rate_limit token bucket: burst denial, floor refill, cap") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // user 1: 7-event burst (5 admitted, 2 denied), then 2.5 min idle
    // (floor refill = 2), then a 3-event burst (2 admitted);
    // user 2: a week idle must CAP at 5, not accumulate 10000+
    val df = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (2L, 1L, ts("2024-01-01 00:00:01")),
      (3L, 1L, ts("2024-01-01 00:00:02")),
      (4L, 1L, ts("2024-01-01 00:00:03")),
      (5L, 1L, ts("2024-01-01 00:00:04")),
      (6L, 1L, ts("2024-01-01 00:00:05")),
      (7L, 1L, ts("2024-01-01 00:00:06")),
      (8L, 1L, ts("2024-01-01 00:02:36")),
      (9L, 1L, ts("2024-01-01 00:02:37")),
      (10L, 1L, ts("2024-01-01 00:02:38")),
      (11L, 2L, ts("2024-01-01 00:00:00")),
      (12L, 2L, ts("2024-01-08 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = StreamShapes.rateLimit(df).collect()
      .map(r => r.getLong(1) -> (r.getBoolean(3), r.getLong(4))).toMap
    assert((1L to 5L).forall(out(_)._1))
    assert(!out(6L)._1 && !out(7L)._1) // drained: denied, tokens stay 0
    assert(out(7L)._2 == 0L)
    assert(out(8L)._1 && out(9L)._1)   // 2.5 min → floor refill of 2
    assert(!out(10L)._1)               // third is denied again
    assert(out(11L)._1 && out(11L)._2 == 4L)
    assert(out(12L)._1 && out(12L)._2 == 4L) // a week refills to CAP 5
  }

  test("q_stats_chi2 matches a BigInt contingency recomputation") {
    import spark.implicits._
    val row = Extended.queries("q_stats_chi2")(spark, sf).head
    val cells = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"),
        (expr("weekday(ts)") + 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("o"))
      .as[(String, Long, Long)].collect()
    val n = BigInt(cells.map(_._3).sum)
    val r = cells.groupBy(_._1).view.mapValues(c => BigInt(c.map(_._3).sum))
    val c = cells.groupBy(_._2).view.mapValues(c => BigInt(c.map(_._3).sum))
    val chi2 = cells.map { case (t, w, o) =>
      val d = BigInt(o) * n - r(t) * c(w)
      (d * d * 1000000) / (r(t) * c(w) * n)
    }.sum
    assert(BigInt(row.getLong(0)) == chi2)
    assert(row.getLong(1) ==
      (cells.map(_._1).distinct.length - 1).toLong *
        (cells.map(_._2).distinct.length - 1))
    assert(row.getLong(2) == cells.map(_._3).sum)
  }

  test("q_stats_ttest matches a plain-Scala Welch recomputation " +
      "bit-for-bit") {
    import spark.implicits._
    val out = Extended.queries("q_stats_ttest")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val evs = Tables.table(spark, sf, "events")
      .select("event_type", "value").as[(String, Option[Double])]
      .collect().collect { case (t, Some(v)) => (t, v) }
    def d4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def stats(vs: Seq[Double]): (Long, Double, Double) = (
      vs.size.toLong,
      vs.map(d4).sum.toDouble,
      vs.map(v => d4(v) * d4(v)).sum.toDouble)
    val (ntL, st, qt) = stats(evs.map(_._2).toSeq)
    evs.groupBy(_._1).foreach { case (ty, rows) =>
      val (n, sx, sq) = stats(rows.map(_._2).toSeq)
      val nt = ntL
      // the EXACT expression order of the query's selectExpr
      val meanG = sx / n
      val meanRest = (st - sx) / (nt - n)
      val tW = ((sx / n) - (st - sx) / (nt - n)) / math.sqrt(
        ((sq - sx * sx / n) / (n - 1)) / n +
          ((qt - sq - (st - sx) * (st - sx) / (nt - n)) /
            (nt - n - 1)) / (nt - n))
      assert(out(ty) == ((n, meanG, meanRest, tW)), s"type $ty")
    }
  }

  test("q_text_burstiness matches brute-force tf/df and every bursty " +
      "token repeats within documents") {
    import spark.implicits._
    val out = TextOps.queries("q_text_burstiness")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, Option[String])].collect()
    val byTok = docs.collect { case (id, Some(tx)) => (id, tx) }
      .flatMap { case (id, tx) =>
        tx.split(" ", -1).filter(_.nonEmpty).map(tok => (tok, id)) }
      .groupBy(_._1)
    out.foreach { case (tok, (tf, df, b)) =>
      val occ = byTok(tok)
      assert(tf == occ.length.toLong, s"$tok tf")
      assert(df == occ.map(_._2).distinct.length.toLong, s"$tok df")
      assert(b == (tf - df).toDouble / df.toDouble, s"$tok burstiness")
      assert(b >= 0.0)
    }
    // the emitted set is exactly the tf-ranked top slice
    val minTf = out.values.map(_._1).min
    val above = byTok.count(_._2.length > minTf)
    assert(above <= out.size, "a higher-tf token was omitted")
  }

  test("q_stats_levene matches a plain-Scala Brown-Forsythe " +
      "recomputation bit-for-bit") {
    import spark.implicits._
    val r = StatsTests.queries("q_stats_levene")(spark, sf)
      .collect().head
    val evs = Tables.table(spark, sf, "events")
      .select("event_type", "event_id", "value")
      .as[(String, Long, Option[Double])].collect()
      .collect { case (t, id, Some(v))
        if Set("click", "view", "purchase")(t) => (t, id, v) }
    def d4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val m2 = evs.groupBy(_._1).map { case (t, rows) =>
      val sorted = rows.sortBy(x => (d4(x._3), x._2)).toIndexedSeq
      val n = sorted.size
      t -> (d4(sorted((n + 1) / 2 - 1)._3) + d4(sorted((n + 2) / 2 - 1)._3))
    }
    val w = evs.map { case (t, _, v) => (t, (d4(v) * 2 - m2(t)).abs) }
    def stats(ws: Seq[BigDecimal]): (Long, Double, Double) =
      (ws.size.toLong, ws.sum.toDouble, ws.map(x => x * x).sum.toDouble)
    val (n1, s1, q1) = stats(w.collect { case ("click", x) => x }.toSeq)
    val (n2, s2, q2) = stats(w.collect { case ("view", x) => x }.toSeq)
    val (n3, s3, q3) = stats(w.collect { case ("purchase", x) => x }.toSeq)
    val ssb = s1 * s1 / n1 + s2 * s2 / n2 + s3 * s3 / n3 -
      (s1 + s2 + s3) * (s1 + s2 + s3) / (n1 + n2 + n3)
    val ssw = q1 + q2 + q3 - (s1 * s1 / n1 + s2 * s2 / n2 + s3 * s3 / n3)
    val f = (ssb / 2) / (ssw / (n1 + n2 + n3 - 3))
    assert(r.getLong(0) == 3L && r.getLong(1) == n1 + n2 + n3)
    assert(r.getDouble(2) == ssb && r.getDouble(3) == ssw)
    assert(r.getDouble(4) == f)
    assert(f > 0.0)
  }

  test("q_graph_jaccard equals brute-force neighbor-set similarity") {
    val out = Corpus.queries("q_graph_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val edges = TextDedup.nearDuplicates(
        Tables.table(spark, sf, "documents"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expect = nbrs.keySet.toSeq.sorted.combinations(2).collect {
      case Seq(a, b) if (nbrs(a) & nbrs(b)).nonEmpty =>
        val common = (nbrs(a) & nbrs(b)).size.toLong
        val (da, db) = (nbrs(a).size.toLong, nbrs(b).size.toLong)
        (a, b) -> (common, da, db,
          common.toDouble / (da + db - common))
    }.toMap
    assert(out == expect)
    assert(out.nonEmpty)
  }

  test("q_funnel_time equals per-user diffs of the funnel stage times") {
    // µs via unix_micros, not Timestamp.getTime (ms-truncated)
    val f = EventAnalytics.queries("q_funnel")(spark, sf)
      .select(unix_micros(col("s_ts")), unix_micros(col("c_ts")),
        unix_micros(col("p_ts")))
      .collect()
    def us(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i - 1)) None else Some(r.getLong(i - 1))
    val sc = f.flatMap(r => for (s <- us(r, 1); c <- us(r, 2)) yield c - s)
    val cp = f.flatMap(r => for (c <- us(r, 2); p <- us(r, 3)) yield p - c)
    val out = EventAnalytics.queries("q_funnel_time")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out("signup_to_click") == ((sc.length.toLong, sc.min, sc.max,
      sc.sum, sc.sum.toDouble / sc.length)))
    assert(out("click_to_purchase") == ((cp.length.toLong, cp.min, cp.max,
      cp.sum, cp.sum.toDouble / cp.length)))
    assert(sc.forall(_ >= 0L) && cp.forall(_ >= 0L))
  }

  test("q_ann_bucket_stats histogram sums back to the corpus") {
    val out = VectorOps.queries("q_ann_bucket_stats")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nVecs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull).count()
    assert(out.map { case (sz, n) => sz * n }.sum == nVecs)
    assert(out.map(_._2).sum <= 64L) // at most 2^6 buckets at planes=6
  }

  test("q_seasonal_profile covers the ISO grid and accounts every event") {
    val out = EventAnalytics.queries("q_seasonal_profile")(spark, sf)
      .collect()
    assert(out.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 7))
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 23))
    assert(out.map(_.getLong(2)).sum ==
      Tables.table(spark, sf, "events").count())
    assert(out.length <= 7 * 24)
  }

  test("q_layout_zorder buckets bound BOTH key spans (the locality " +
      "guarantee a single-column sort cannot give)") {
    val out = Skew.queries("q_layout_zorder")(spark, sf).collect()
    // an aligned 2^18-wide z-cell interleaves 9 bits of each key, so
    // within one bucket each key spans < 2^9
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3)
        && r.getLong(3) - r.getLong(2) < 512, s"orderkey span: $r")
      assert(r.getLong(4) <= r.getLong(5)
        && r.getLong(5) - r.getLong(4) < 512, s"partkey span: $r")
    }
    assert(out.map(_.getLong(1)).sum ==
      Tables.table(spark, sf, "lineitem").count())
  }

  test("q_graph_cc_sizes histogram mass equals the labeled node count") {
    val out = Corpus.queries("q_graph_cc_sizes")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val labeled = Corpus.connectedComponents(
        TextDedup.nearDuplicates(Tables.table(spark, sf, "documents"))
          .select("id_a", "id_b")).count()
    assert(out.map { case (sz, n) => sz * n }.sum == labeled)
    // near-dup members always have a partner ⇒ no singleton clusters
    assert(out.forall(_._1 >= 2L))
  }

  test("q_embed_dim_stats matches a plain-Scala moments recomputation") {
    import spark.implicits._
    val out = VectorOps.queries("q_embed_dim_stats")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val vecs = Tables.table(spark, sf, "embeddings")
      .select("embedding").as[Array[Float]].collect().filter(_ != null)
    def d7(v: Double) =
      BigDecimal(v).setScale(7, BigDecimal.RoundingMode.HALF_UP)
    (0 until 64).foreach { i =>
      val xs = vecs.map(_(i).toDouble)
      val n = xs.length.toLong
      val sx = xs.map(d7).sum.toDouble
      val sxx = xs.map(x => d7(x) * d7(x)).sum.toDouble
      val expect = (n, sx / n, (n * sxx - sx * sx) / (n.toDouble * n),
        xs.min, xs.max)
      assert(out(i.toLong) == expect, s"dim $i")
    }
    assert(out.size == 64)
    assert(out.values.forall(_._3 >= 0.0)) // variances are non-negative
  }

  test("q_dedup_survivor keeps each cluster's best-quality member") {
    import spark.implicits._
    val out = Corpus.queries("q_dedup_survivor")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    val clusters = Corpus.connectedComponents(
        TextDedup.nearDuplicates(Tables.table(spark, sf, "documents"))
          .select("id_a", "id_b"))
      .select("id", "lbl").as[(Long, Long)].collect()
    clusters.groupBy(_._2).foreach { case (cl, members) =>
      val ids = members.map(_._1)
      val best = ids.map(id => (docs(id), id))
        .maxBy { case (nc, id) => (nc, -id) }
      assert(out(cl) == ((ids.length.toLong, best._2, best._1)),
        s"cluster $cl")
    }
    assert(out.size == clusters.map(_._2).distinct.length)
  }

  test("q_gap_stats equals a plain-Scala inter-arrival recomputation") {
    import spark.implicits._
    val out = EventAnalytics.queries("q_gap_stats")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val evs = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .as[(Long, Long, Long)].collect()
    evs.groupBy(_._1).foreach { case (u, rows) =>
      val ts = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val gaps = ts.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      if (gaps.nonEmpty) {
        val sum = gaps.sum
        assert(out(u) == ((gaps.length.toLong, gaps.min, gaps.max, sum,
          sum.toDouble / gaps.length)), s"user $u")
      } else assert(!out.contains(u))
    }
  }

  test("q_text_pmi matches a plain-Scala recomputation") {
    import spark.implicits._
    val out = TextOps.queries("q_text_pmi")(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val docs = Tables.table(spark, sf, "documents")
      .select("text").as[String].collect().filter(_ != null)
    val bgs = docs.flatMap { tx =>
      val t = tx.split(" ", -1)
      if (t.length < 2) Nil else t.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val nAb = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nA = bgs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nB = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = bgs.length.toLong
    val expect = nAb.filter(_._2 >= 5).map { case ((a, b), ab) =>
      (a, b, ab, nA(a), nB(b), ab * n * 1000000L / (nA(a) * nB(b)))
    }.toSeq.sortBy { case (a, b, _, _, _, s) => (-s, a, b) }.take(50)
    assert(out == expect)
    assert(out.size == 50)
  }

  test("q_skew_profile strata account every key and every row") {
    val out = Skew.queries("q_skew_profile")(spark, sf).collect()
    val perKey = Tables.table(spark, sf, "lineitem")
      .groupBy("l_partkey").count().collect()
      .map(_.getLong(1))
    // strata sum back to the exact key and row totals
    assert(out.map(_.getLong(1)).sum == perKey.length.toLong)
    assert(out.map(r => r.getLong(0) * r.getLong(1)).sum == perKey.sum)
    // shares are the exact single-division values and sum to 1
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    // the histogram is the true count-of-counts
    val expect = perKey.groupBy(identity).view.mapValues(_.length.toLong)
    out.foreach(r => assert(expect(r.getLong(0)) == r.getLong(1),
      s"stratum ${r.getLong(0)}"))
  }

  test("q_embed_cov matches brute-force quantized covariance and has " +
      "the dim-stats variance on its diagonal") {
    import spark.implicits._
    val out = VectorOps.queries("q_embed_cov")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.size == 64 * 65 / 2)
    val vecs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull)
      .select("embedding").as[Seq[Float]].collect()
    val n = vecs.length
    // brute-force the exact quantized sums for a probe set of cells
    for ((i, j) <- Seq((0, 0), (0, 32), (5, 17), (63, 63), (31, 32))) {
      var sxy = 0L; var sx = 0L; var sy = 0L
      vecs.foreach { v =>
        val x = v(i).toDouble; val y = v(j).toDouble
        sxy += math.floor(x * y * 1e8 + 0.5).toLong
        sx += math.floor(x * 1e8 + 0.5).toLong
        sy += math.floor(y * 1e8 + 0.5).toLong
      }
      val (gn, exy, cov) = out((i, j))
      assert(gn == n.toLong)
      val eExy = sxy.toDouble / n / 1e8
      assert(exy == eExy, s"e_xy($i,$j)")
      val eCov = sxy.toDouble / n / 1e8 -
        (sx.toDouble / n / 1e8) * (sy.toDouble / n / 1e8)
      assert(cov == eCov, s"cov($i,$j)")
      // diagonal is a variance: non-negative up to quantization noise
      if (i == j) assert(cov > -1e-9, s"diag($i) negative: $cov")
    }
  }

  test("q_changepoint scores every proper split and its argmax is the " +
      "true one-split SSE minimizer") {
    val out = EventAnalytics.queries("q_changepoint")(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val daily = Tables.table(spark, sf, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,4)")).as("s"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getDecimal(1)))
      .sortBy(_._1)
    val nd = daily.length
    assert(out.length == nd - 1) // every split with a non-empty right
    val vals = daily.map(_._2.doubleValue())
    // exact segment-count bookkeeping
    out.zipWithIndex.foreach { case ((day, nl, nr, _), k) =>
      assert(day == daily(k)._1 && nl == k + 1L && nr == nd - k - 1L)
    }
    // the score-maximizing split also minimizes brute-force total SSE
    def sse(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }
    val bestByScore = out.maxBy(_._4)._1
    val bestBySse = (1 until nd).minBy { k =>
      sse(vals.take(k)) + sse(vals.drop(k))
    }
    assert(bestByScore == daily(bestBySse - 1)._1)
  }

  test("q_bpe_merges: greedy merge application and shrinking pair count") {
    val out = TextOps.queries("q_bpe_merges")(spark, sf).collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[String]("pair"),
        r.getAs[Long]("freq")))
    val it1 = out.filter(_._1 == 1L)
    val it2 = out.filter(_._1 == 2L)
    assert(it1.length == 10 && it2.length == 10)
    // iteration 1 is sorted desc; the adopted merge is its head
    assert(it1.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
    val (_, adopted, f1) = it1.head
    // after merging, the adopted pair can only survive via overlapping
    // runs (e.g. "aaa") — its iter-2 count must drop strictly
    val f2 = it2.find(_._2 == adopted).map(_._3).getOrElse(0L)
    assert(f2 < f1, s"adopted pair $adopted: $f1 -> $f2")
    // independent recomputation of the adopted pair's iter-1 frequency:
    // greedy leftmost-nonoverlapping occurrences, weighted by word count
    val Array(a, b) = adopted.split(' ')
    val words = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = words.map { case (w, n) =>
      w.sliding(2).count(_ == a + b) * n
    }.sum
    assert(f1 == expect, s"iter-1 freq of $adopted: got $f1 want $expect")
  }

  test("q_vocab_growth: new-type counts partition the vocabulary") {
    val out = TextOps.queries("q_vocab_growth")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("n_new_types")))
    val buckets = out.map(_._1)
    assert(buckets.distinct.length == buckets.length)
    val vocab = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select("token").distinct().count()
    assert(out.map(_._3).sum == vocab,
      "per-bucket first-seen counts must sum to the distinct vocabulary")
    val total = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0).count()
    assert(out.map(_._2).sum == total)
  }

  test("q_vocab_coverage: top-k sums bound each other and the total") {
    val r = TextOps.queries("q_vocab_coverage")(spark, sf).head()
    val (nOcc, o100, o1000) = (r.getAs[Long]("n_occurrences"),
      r.getAs[Long]("occ_top100"), r.getAs[Long]("occ_top1000"))
    assert(o100 <= o1000 && o1000 <= nOcc)
    assert(r.getAs[Double]("cov_top100") <= r.getAs[Double]("cov_top1000"))
    // brute-force the top-100 occupancy
    val freqs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").count()
      .collect().map(_.getLong(1)).sorted(Ordering[Long].reverse)
    assert(o100 == freqs.take(100).sum)
    assert(nOcc == freqs.sum)
  }

  test("q_quality_prune_sweep: monotone in the cutoff, cutoff-0 is the " +
      "corpus total") {
    val out = Quality.queries("q_quality_prune_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Long]("cutoff_pct"), r.getAs[Long]("n_docs_kept"),
        r.getAs[Long]("n_tokens_kept"))).sortBy(_._1)
    assert(out.head._1 == 0L)
    val totalDocs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull).count()
    assert(out.head._2 == totalDocs, "cutoff 0 must keep every doc")
    assert(out.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(out.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("q_winsorize: clipped mean sits inside the clip points") {
    val rows = StatsTests.queries("q_winsorize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, m) = (r.getAs[Double]("lo_val"),
        r.getAs[Double]("hi_val"), r.getAs[Double]("win_mean"))
      assert(lo <= hi)
      assert(m >= lo - 1e-9 && m <= hi + 1e-9,
        s"${r.getString(0)}: mean $m outside [$lo, $hi]")
      // the plain mean is dragged by the tails at least as far out
      val et = r.getString(0)
      val vals = Tables.table(spark, sf, "events")
        .filter(col("event_type") === et && col("value").isNotNull)
        .select("value").collect().map(_.getDouble(0)).sorted
      val n = vals.length
      assert(r.getAs[Long]("n_events") == n)
      val loRank = n * 5 / 100 + 1
      val hiRank = math.max(n * 95 / 100, loRank)
      assert(lo == vals(loRank - 1) && hi == vals(hiRank - 1))
    }
  }

  test("q_source_token_shift: TV distance bounded in [0,1] and exact " +
      "against a brute-force recomputation for one source") {
    val out = TextOps.queries("q_source_token_shift")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val tv = r.getAs[Double]("tv_dist")
      assert(tv >= 0.0 && tv <= 1.0, s"${r.getString(0)}: tv $tv")
    }
    // brute-force one source
    val src = out.head.getString(0)
    val toks = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nC = toks.length.toLong
    val corpCnt = toks.groupBy(_._2).map { case (t, xs) =>
      t -> xs.length.toLong }
    val sToks = toks.filter(_._1 == src)
    val nS = sToks.length.toLong
    val sCnt = sToks.groupBy(_._2).map { case (t, xs) =>
      t -> xs.length.toLong }
    val num = corpCnt.map { case (t, cc) =>
      math.abs(sCnt.getOrElse(t, 0L) * nC - cc * nS) }.sum
    val row = out.find(_.getString(0) == src).get
    assert(row.getAs[Long]("tv_num") == num)
    assert(row.getAs[Long]("n_tokens") == nS)
  }

  test("q_dsir_weight: eval docs excluded, affinity bounded by the " +
      "scaled-probability ceiling") {
    val out = TextOps.queries("q_dsir_weight")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 5 != 0)
      val (n, tgt, raw) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("tgt_sum"), r.getAs[Long]("raw_sum"))
      // each scaled probability is <= 1e6, so sums are <= n * 1e6
      assert(tgt >= 0 && tgt <= n * 1000000L)
      assert(raw > 0 && raw <= n * 1000000L)
      val score = r.getAs[Double]("dsir_score")
      assert(score >= -1.0 && score <= 1.0)
    }
    // non-vacuous: scores differ across docs
    assert(out.map(_.getAs[Double]("dsir_score")).distinct.length > 1)
  }

  test("q_pack_efficiency: sequence counts and capacity follow from " +
      "the per-shard token totals") {
    val out = Packing.queries("q_pack_efficiency")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (tot, nSeqs, cap, split, nDocs) = (
        r.getAs[Long]("total_tokens"), r.getAs[Long]("n_seqs"),
        r.getAs[Long]("capacity"), r.getAs[Long]("n_split_docs"),
        r.getAs[Long]("n_docs"))
      // greedy packing mints exactly ceil(total/budget) sequences
      assert(nSeqs == (tot - 1) / Packing.SeqBudget + 1)
      assert(cap == nSeqs * Packing.SeqBudget && tot <= cap)
      assert(split <= nDocs)
      val fill = r.getAs[Double]("fill_rate")
      assert(fill > 0.0 && fill <= 1.0)
    }
  }

  test("q_join_fuzzy re-links every dirty listing to its own clean " +
      "record through the block + edit-distance gate") {
    val out = graft.operators.Extended.queries("q_join_fuzzy")(spark, sf)
      .collect()
    val nDirty = Tables.table(spark, sf, "part")
      .filter(org.apache.spark.sql.functions.expr("p_partkey % 3 = 0"))
      .count()
    assert(out.map(_.getAs[Long]("n_dirty")).sum == nDirty)
    out.foreach { r =>
      // the one-deletion corruption sits at distance 1 of its source and
      // shares its block, so recall through the gate must be total —
      // this exercises synthesis + blocking + levenshtein end to end
      assert(r.getAs[Long]("n_linked") == r.getAs[Long]("n_dirty"))
      assert(r.getAs[Long]("n_self") == r.getAs[Long]("n_dirty"))
      assert(r.getAs[Long]("n_ambig") <= r.getAs[Long]("n_linked"))
      assert(r.getAs[Long]("n_pairs") >= r.getAs[Long]("n_dirty"))
    }
  }

  test("weighted-mean aggregator equals the exact decimal formula") {
    import spark.implicits._
    val wavg = udaf(new WeightedMean(),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble))
    val df = Seq((10.0, 1.0), (20.0, 3.0)).toDF("p", "w")
    val got = df.agg(wavg($"p", $"w")).head.getDouble(0)
    assert(math.abs(got - 17.5) < 1e-12)
  }

  test("q_embed_pairwise_hist matches a plain-Scala exact-decimal " +
    "recomputation over the fixed panel") {
    import spark.implicits._
    val out = VectorOps.queries("q_embed_pairwise_hist")(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val panel = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .filter(v => v._1 < 32 && v._2 != null)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => BigDecimal(x.toDouble * y.toDouble)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
    val cos = for { (ia, ea) <- panel; (ib, eb) <- panel if ia < ib }
      yield dot(ea, eb)
    assert(cos.length == panel.length * (panel.length - 1) / 2)
    val hist = cos.groupBy(c => math.floor(c * 10).toLong)
      .map { case (b, cs) => b -> (cs.length.toLong,
        cs.map(c => BigDecimal(c)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble) }
    assert(out == hist)
    assert(out.values.map(_._1).sum == cos.length.toLong)
  }

  test("q_multimodal_flac extracts the sub-byte STREAMINFO bit fields " +
    "back to the fixture values") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect()
    val out = Multimodal.queries("q_multimodal_flac")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == docs.length)
    var flacs = 0
    docs.foreach { case (id, text, nChars) =>
      val r = out(id)
      if (id % 5 == 0) {
        if (text != null) assert(!r.getBoolean(1), s"doc $id sniffed flac")
        assert(r.isNullAt(4), s"doc $id fields not null")
      } else if (text != null) {
        flacs += 1
        assert(r.getBoolean(1), s"doc $id not recognized")
        val expSr = (id % 4) match {
          case 0 => 8000L; case 1 => 16000L; case 2 => 44100L
          case _ => 48000L
        }
        assert(r.getLong(2) == 1024L && r.getLong(3) == 4096L,
          s"doc $id blocksizes")
        assert(r.getLong(4) == expSr, s"doc $id sample rate")
        assert(r.getLong(5) == id % 2 + 1, s"doc $id channels")
        assert(r.getLong(6) == (if (id % 3 == 0) 16L else 24L),
          s"doc $id bps")
        assert(r.getLong(7) == nChars * 1000, s"doc $id total samples")
        assert(r.getLong(8) == nChars * 1000 * 1000 / expSr,
          s"doc $id duration")
      }
    }
    assert(flacs > 0, "no FLAC fixtures exercised")
  }

  test("q_dup_quality_bias accounts for every doc and matches the " +
    "independent member set") {
    val out = Quality.queries("q_dup_quality_bias")(spark, sf).collect()
    val docs = Tables.table(spark, sf, "documents")
    assert(out.map(_.getLong(1)).sum == docs.count())
    val members = graft.operators.TextDedup.nearDuplicates(docs)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().count()
    assert(out.map(_.getLong(2)).sum == members)
    out.foreach { r =>
      if (!r.isNullAt(3)) assert(r.getDouble(3) > 0.0 &&
        r.getDouble(3) <= 1.0, s"${r.getString(0)} dup mean range")
      if (!r.isNullAt(4)) assert(r.getDouble(4) > 0.0 &&
        r.getDouble(4) <= 1.0, s"${r.getString(0)} nondup mean range")
      if (!r.isNullAt(5))
        assert(r.getDouble(5) == r.getDouble(3) - r.getDouble(4),
          s"${r.getString(0)} bias identity")
    }
  }

  test("q_multimodal_zip parses the data-dependent filename and member " +
    "offsets back to the fixture fields") {
    import spark.implicits._
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text", "source", "n_chars")
      .as[(Long, String, String, Long)].collect()
    val out = Multimodal.queries("q_multimodal_zip")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == docs.length)
    var zips = 0
    docs.foreach { case (id, text, source, nChars) =>
      val r = out(id)
      if (id % 5 == 0) {
        // sniff-reject path: text bytes, never the ZIP magic
        if (text != null) assert(!r.getBoolean(1), s"doc $id sniffed zip")
        assert(r.isNullAt(2) && r.isNullAt(5), s"doc $id fields not null")
      } else if (text != null) {
        zips += 1
        assert(r.getBoolean(1), s"doc $id not recognized")
        assert(r.getLong(2) == id % 2 * 8, s"doc $id method")
        val expCsize = if (id % 2 == 0) nChars else nChars / 2 + 1
        assert(r.getLong(3) == expCsize, s"doc $id csize")
        assert(r.getLong(4) == nChars, s"doc $id usize")
        assert(r.getString(5) == source + ".txt", s"doc $id fname")
        val expHead = text.take(6).getBytes("UTF-8")
          .map("%02X".format(_)).mkString.take(12)
        assert(r.getString(6) == expHead, s"doc $id data head")
        assert(r.getBoolean(7) == (id % 2 == 0), s"doc $id stored")
      }
    }
    assert(zips > 0, "no ZIP fixtures exercised")
  }

  test("q_multimodal_pdf round-trips the shell and the startxref " +
      "pointer lands on the xref keyword") {
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val out = Multimodal.queries("q_multimodal_pdf")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == docs.length)
    var pdfs = 0
    docs.foreach { case (id, text) =>
      val r = out(id)
      if (id % 5 == 0) {
        assert(!r.getBoolean(1), s"doc $id sniffed pdf")
        assert(r.isNullAt(2) && r.isNullAt(4), s"doc $id fields null")
      } else {
        pdfs += 1
        assert(r.getBoolean(1), s"doc $id not recognized")
        val v = (id % 3) match {
          case 0 => "1.4"; case 1 => "1.5"; case _ => "1.7"
        }
        assert(r.getString(2) == v, s"doc $id version")
        assert(r.getLong(3) == id % 9 + 2, s"doc $id size")
        val expOff = 9L + ("BODY:" + text.take(20) + "\n").length
        assert(r.getLong(4) == expOff, s"doc $id startxref")
        assert(r.getBoolean(5), s"doc $id offset consistency")
      }
    }
    assert(pdfs > 0, "no PDF fixtures exercised")
  }

  test("q_stats_jarque_bera equals a plain-Scala scaled-moment replay " +
      "and JB is non-negative") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val out = StatsTests.queries("q_stats_jarque_bera")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val byType = rows.groupBy(_._1)
    assert(out.keySet == byType.keySet)
    byType.foreach { case (ty, evs) =>
      // same quantization: round-to-nearest of value·10⁴ (DECIMAL(18,4))
      val vs = evs.map(e => BigDecimal(e._2)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN) * 10000)
        .map(_.toBigInt)
      val n = vs.length.toDouble
      def p(k: Int): Double = vs.map(v => v.pow(k)).sum.toDouble
      val mu = p(1) / n
      val m2 = p(2) / n - mu * mu
      val m3 = p(3) / n - 3.0 * mu * (p(2) / n) + 2.0 * mu * mu * mu
      val m4 = p(4) / n - 4.0 * mu * (p(3) / n) +
        6.0 * mu * mu * (p(2) / n) - 3.0 * mu * mu * mu * mu
      val skw = m3 / (m2 * math.sqrt(m2))
      val exk = m4 / (m2 * m2) - 3.0
      val r = out(ty)
      assert(r.getAs[Long]("n") == evs.length.toLong, s"$ty n")
      // replay sums in double (exact engine sums are integers ≤ 2^63
      // only for p1/p2) — compare within a tight relative band
      assert(math.abs(r.getAs[Double]("skewness") - skw)
        <= 1e-9 * math.max(1.0, math.abs(skw)), s"$ty skew")
      assert(math.abs(r.getAs[Double]("ex_kurtosis") - exk)
        <= 1e-9 * math.max(1.0, math.abs(exk)), s"$ty kurt")
      assert(r.getAs[Double]("jb_stat") >= 0.0, s"$ty JB >= 0")
    }
  }

  test("q_stats_kendall_tau equals a brute-force pair count and " +
      "tau_b is within [-1, 1]") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,4)").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        BigDecimal(r.getDecimal(2))))
    val out = StatsTests.queries("q_stats_kendall_tau")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val daily = evs.groupBy(_._2).view
        .mapValues(g => (g.length.toLong, g.map(_._3).sum))
        .toSeq.sortBy(_._1)
      val pairs = for {
        i <- daily.indices; j <- (i + 1) until daily.length
      } yield {
        val (_, (c1, s1)) = daily(i); val (_, (c2, s2)) = daily(j)
        (c2.compare(c1).sign, s2.compare(s1).sign)
      }
      val conc = pairs.count { case (a, b) => a * b == 1 }.toLong
      val disc = pairs.count { case (a, b) => a * b == -1 }.toLong
      val tx = pairs.count(_._1 == 0).toLong
      val ty2 = pairs.count(_._2 == 0).toLong
      val n0 = pairs.length.toLong
      val r = out(ty)
      assert(r.getAs[Long]("n0") == n0, s"$ty n0")
      assert(r.getAs[Long]("concordant") == conc, s"$ty C")
      assert(r.getAs[Long]("discordant") == disc, s"$ty D")
      val tau = (conc - disc).toDouble /
        math.sqrt(((n0 - tx) * (n0 - ty2)).toDouble)
      assert(r.getAs[Double]("tau_b") == tau, s"$ty tau")
      assert(math.abs(tau) <= 1.0, s"$ty tau in range")
    }
  }

  test("q_stats_grubbs equals a plain-Scala scaled-deviation replay " +
      "and G is positive") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val out = StatsTests.queries("q_stats_grubbs")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val vs = evs.map(e => (BigDecimal(e._2)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN) * 10000)
        .toBigInt)
      val n = vs.length.toLong
      val sv = vs.sum
      val qv = vs.map(v => v * v).sum
      val maxdev = vs.map(v => (v * n - sv).abs).max
      val nd = n.toDouble
      val svd = BigDecimal(sv).toDouble
      val qvd = BigDecimal(qv).toDouble
      val maxdevd = BigDecimal(maxdev).toDouble
      val g = maxdevd / nd /
        math.sqrt((nd * qvd - svd * svd) / (nd * (nd - 1.0)))
      val r = out(ty)
      assert(r.getAs[Long]("n") == n, s"$ty n")
      assert(r.getAs[Double]("g_stat") == g, s"$ty G")
      assert(g > 0.0, s"$ty G positive")
    }
  }

  test("q_agg_grouping_sets emits exactly the three declared sets " +
      "with conserved totals") {
    val out = Relational.queries("q_agg_grouping_sets")(spark, sf)
      .collect()
    val li = Tables.table(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val byGid = out.groupBy(_.getLong(2))
    assert(byGid.keySet == Set(0L, 1L, 2L))
    // gid 0 = (rf, ls): full cross-classification
    val both = li.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val g0 = byGid(0L)
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(g0 == both, "gid 0 cells")
    // gid 1 = (rf) only: linestatus is null
    val byRf = li.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val g1 = byGid(1L).map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(byGid(1L).forall(_.isNullAt(1)), "gid 1 nulls")
    assert(g1 == byRf, "gid 1 cells")
    // gid 2 = (ls) only: returnflag is null
    val byLs = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val g2 = byGid(2L).map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(byGid(2L).forall(_.isNullAt(0)), "gid 2 nulls")
    assert(g2 == byLs, "gid 2 cells")
    // every set partitions the same fact rows
    assert(byGid.values.forall(_.map(_.getLong(3)).sum == li.length))
  }

  /** Daily (click, view) count pairs shared by the paired-test replays. */
  private def dailyClickView: Seq[(Long, Long)] = {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(to_date(col("ts")).cast("string").as("day"),
        col("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, evs) =>
      (evs.count(_._2 == "click").toLong,
        evs.count(_._2 == "view").toLong)
    }
  }

  test("q_stats_sign_test equals a brute-force daily win count") {
    val daily = dailyClickView
    val sp = daily.count { case (c, v) => c > v }.toLong
    val sm = daily.count { case (c, v) => c < v }.toLong
    val r = StatsTests.queries("q_stats_sign_test")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_days") == daily.length.toLong)
    assert(r.getAs[Long]("s_plus") == sp)
    assert(r.getAs[Long]("s_minus") == sm)
    assert(sp + sm > 0, "fixture has unequal days")
    val z = (sp - sm).toDouble / math.sqrt((sp + sm).toDouble)
    assert(r.getAs[Double]("z_stat") == z)
  }

  test("q_stats_wilcoxon_signed equals a doubled-midrank replay with " +
      "the tie-corrected variance") {
    val diffs = dailyClickView.map { case (c, v) => c - v }
      .filter(_ != 0L)
    val ads = diffs.map(math.abs)
    def dr(ad: Long): Long =
      2L * ads.count(_ < ad) + ads.count(_ == ad) + 1L
    val n = diffs.length.toLong
    val w2 = diffs.filter(_ > 0L).map(d => dr(math.abs(d))).sum
    val tsum = ads.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val e2 = n * (n + 1)
    val var12 = 2 * n * (n + 1) * (2 * n + 1) - tsum
    val r = StatsTests.queries("q_stats_wilcoxon_signed")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("w2_plus") == w2)
    assert(r.getAs[Long]("e2") == e2)
    assert(r.getAs[Long]("var12") == var12)
    val z = (w2.toDouble - e2.toDouble / 2.0) /
      math.sqrt(var12.toDouble / 12.0)
    assert(r.getAs[Double]("z_stat") == z)
    // doubled ranks of n untied rows sum to n(n+1) exactly; ties keep
    // the total invariant (midranks redistribute, never create mass)
    assert(diffs.map(d => dr(math.abs(d))).sum == e2)
  }

  test("q_ts_periodogram equals an exact coefficient-table replay " +
      "and Parseval bounds each power") {
    val days = Tables.table(spark, sf, "events")
      .select(to_date(col("ts")).cast("string").as("day"))
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val nd = days.length.toLong
    val sx = days.map(_._2).sum
    val d0 = java.time.LocalDate.parse(days.head._1)
    val cent = days.map { case (d, x) =>
      (java.time.temporal.ChronoUnit.DAYS.between(
        d0, java.time.LocalDate.parse(d)), BigInt(x * nd - sx))
    }
    val den = cent.map { case (_, c) => c * c }.sum
    val out = EventAnalytics.queries("q_ts_periodogram")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(2L, 3L, 4L, 6L))
    val cosT = Map(
      2L -> Seq(2, -2), 3L -> Seq(2, -1, -1),
      4L -> Seq(2, 0, -2, 0), 6L -> Seq(2, 1, -1, -2, -1, 1))
    val sinT = Map(
      2L -> Seq(0, 0), 3L -> Seq(0, 1, -1),
      4L -> Seq(0, 2, 0, -2), 6L -> Seq(0, 1, 1, 0, -1, -1))
    Seq(2L, 3L, 4L, 6L).foreach { p =>
      val ca = cent.map { case (t, c) =>
        c * cosT(p)((t % p).toInt) }.sum
      val sa = cent.map { case (t, c) =>
        c * sinT(p)((t % p).toInt) }.sum
      val k = if (p == 3L || p == 6L) 3 else 1
      val power4 = ca * ca + k * sa * sa
      val r = out(p)
      assert(r.getLong(1) == nd, s"p=$p n_days")
      assert(r.getString(2) == power4.toString, s"p=$p power4")
      val score = BigDecimal(power4).toDouble / BigDecimal(den).toDouble
      assert(r.getDouble(3) == score, s"p=$p score")
      // Parseval: one frequency's power cannot exceed the full energy
      // (4|A|² ≤ 4·(n/2)·den/n = 2·den for a real series — use the
      // loose integer bound 4·den·n which always holds)
      assert(power4 <= BigInt(4) * den * BigInt(nd), s"p=$p bound")
    }
  }

  test("q_ts_turning_points equals a brute-force calendar-triple " +
      "count with strict extrema") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).cast("string")
        .as("day"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val out = EventAnalytics.queries("q_ts_turning_points")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val daily = evs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val triples = daily.keys.toSeq.filter { d =>
        val ld = java.time.LocalDate.parse(d)
        daily.contains(ld.minusDays(1).toString) &&
          daily.contains(ld.plusDays(1).toString)
      }
      val turning = triples.count { d =>
        val ld = java.time.LocalDate.parse(d)
        val x = daily(d)
        val xp = daily(ld.minusDays(1).toString)
        val xn = daily(ld.plusDays(1).toString)
        (xp < x && xn < x) || (xp > x && xn > x)
      }.toLong
      val m = triples.length.toLong
      val r = out(ty)
      assert(r.getAs[Long]("n_triples") == m, s"$ty triples")
      assert(r.getAs[Long]("turning") == turning, s"$ty turning")
      val z = (3 * turning - 2 * m).toDouble /
        math.sqrt((16 * (m + 2) - 29).toDouble / 10.0)
      assert(r.getAs[Double]("z_stat") == z, s"$ty z")
    }
  }

  test("q_window_rolling_beta equals a per-user sliding-window OLS " +
      "replay") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,4)").as("v"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getDecimal(3)))
    val out = Relational.queries("q_window_rolling_beta")(spark, sf)
      .collect().map(r => r.getLong(1) -> r).toMap
    val epoch = 1704067200000000L
    rows.groupBy(_._1).foreach { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._2.toInstant.getEpochSecond
        * 1000000L + e._2.toInstant.getNano / 1000L, e._3))
      ordered.indices.foreach { i =>
        val frame = ordered.slice(math.max(0, i - 6), i + 1)
        val ts = frame.map { e =>
          val us = e._2.toInstant.getEpochSecond * 1000000L +
            e._2.toInstant.getNano / 1000L
          (us - epoch) / 1000000L
        }
        val ys = frame.map(e =>
          BigDecimal(e._4).*(BigDecimal(10000)).toLongExact)
        val k = frame.length.toLong
        val st = ts.sum; val sy = ys.sum
        val stt = ts.map(t => t * t).sum
        val sty = ts.zip(ys).map { case (t, y) => t * y }.sum
        val den = k * stt - st * st
        val r = out(ordered(i)._3)
        assert(r.getAs[Long]("k") == k, s"ev ${ordered(i)._3} k")
        assert(r.getAs[Long]("den") == den, s"ev ${ordered(i)._3} den")
        if (den == 0L) assert(r.isNullAt(4), s"ev ${ordered(i)._3} null")
        else assert(r.getAs[Double]("beta") ==
          (k * sty - st * sy).toDouble / den.toDouble,
          s"ev ${ordered(i)._3} beta")
      }
    }
  }

  test("q_text_readability equals a plain-Scala length-arithmetic " +
      "replay and ratios are sane") {
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select("lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val out = TextOps.queries("q_text_readability")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    docs.groupBy(_._1).foreach { case (lang, g) =>
      var clusters = 0L; var vowels = 0L; var words = 0L; var wc = 0L
      g.foreach { case (_, text) =>
        val l0 = text.length.toLong
        val l1 = text.replaceAll("[aeiouy]+", "").length.toLong
        val l2 = text.replaceAll("[aeiouy]+", "#").length.toLong
        val l3 = text.replaceAll(" ", "").length.toLong
        clusters += l2 - l1; vowels += l0 - l1
        words += l0 - l3 + 1; wc += l3
      }
      val r = out(lang)
      assert(r.getAs[Long]("n_docs") == g.length.toLong, s"$lang docs")
      assert(r.getAs[Long]("words") == words, s"$lang words")
      assert(r.getAs[Long]("clusters") == clusters, s"$lang clusters")
      assert(r.getAs[Double]("syll_per_word") ==
        clusters.toDouble / words.toDouble, s"$lang spw")
      assert(r.getAs[Double]("chars_per_word") ==
        wc.toDouble / words.toDouble, s"$lang cpw")
      assert(r.getAs[Double]("vowel_ratio") ==
        vowels.toDouble / wc.toDouble, s"$lang vr")
      assert(r.getAs[Double]("vowel_ratio") >= 0.0
        && r.getAs[Double]("vowel_ratio") <= 1.0, s"$lang vr range")
    }
  }

  test("q_stats_tost equals a plain-Scala Welch replay and both " +
      "one-sided statistics bracket the plain t") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def sums(ty: String) = {
      val vs = rows.filter(_._1 == ty).map(v => BigDecimal(v._2)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN))
      (vs.length.toLong, vs.sum.toDouble,
        vs.map(v => v * v).sum.toDouble)
    }
    val (n1, s1, q1) = sums("click")
    val (n2, s2, q2) = sums("view")
    val diff = s1 / n1 - s2 / n2
    val se = math.sqrt(
      ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 +
        ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2)
    val r = Extended.queries("q_stats_tost")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2)
    assert(r.getAs[Double]("mean_diff") == diff)
    assert(r.getAs[Double]("se") == se)
    assert(r.getAs[Double]("t_lower") == (diff + 5.0) / se)
    assert(r.getAs[Double]("t_upper") == (diff - 5.0) / se)
    assert(r.getAs[Boolean]("equivalent") ==
      ((diff + 5.0) / se > 1.645 && (diff - 5.0) / se < -1.645))
    // structural: t_lower > t_upper always (they differ by 10/se > 0)
    assert(r.getAs[Double]("t_lower") > r.getAs[Double]("t_upper"))
  }

  test("q_stats_bootstrap_se: SE is positive and within an order of " +
      "magnitude of the analytic s/sqrt(n)") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val out = StatsTests.queries("q_stats_bootstrap_se")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val n = evs.length
      val mean = evs.map(_._2).sum / n
      val s = math.sqrt(
        evs.map(e => (e._2 - mean) * (e._2 - mean)).sum / (n - 1))
      val analytic = s / math.sqrt(n.toDouble)
      val r = out(ty)
      assert(r.getAs[Long]("n_resamples") == 32L, s"$ty B")
      val se = r.getAs[Double]("se_boot")
      assert(se > 0.0, s"$ty positive")
      // weighted {0,1,2} resampling inflates variance ~1.5x over the
      // multinomial bootstrap; allow [analytic/3, 4*analytic]
      assert(se > analytic / 3 && se < 4 * analytic,
        s"$ty se $se vs analytic $analytic")
      // the bootstrap mean-of-means tracks the sample mean
      assert(math.abs(r.getAs[Double]("mean_boot") - mean)
        <= 6 * analytic, s"$ty mean_boot")
    }
  }

  test("q_stats_binom_ci equals a Wilson replay; the interval brackets " +
      "p_hat and stays inside [0, 1]") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val out = StatsTests.queries("q_stats_binom_ci")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val n = evs.length.toLong
      val k = evs.count(_._2 > 100.0).toLong
      val (nd, kd) = (n.toDouble, k.toDouble)
      val p = kd / nd
      def bound(sign: Double) =
        (p + (1.96 * 1.96) / (2.0 * nd)
          + sign * 1.96 * math.sqrt(p * (1.0 - p) / nd
            + (1.96 * 1.96) / (4.0 * nd * nd))) /
          (1.0 + (1.96 * 1.96) / nd)
      val r = out(ty)
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("k") == k)
      assert(r.getAs[Double]("p_hat") == p, s"$ty p")
      assert(r.getAs[Double]("ci_lo") == bound(-1.0), s"$ty lo")
      assert(r.getAs[Double]("ci_hi") == bound(1.0), s"$ty hi")
      assert(r.getAs[Double]("ci_lo") >= 0.0
        && r.getAs[Double]("ci_hi") <= 1.0
        && r.getAs[Double]("ci_lo") <= p
        && p <= r.getAs[Double]("ci_hi"), s"$ty bracket")
    }
  }

  test("q_event_interarrival equals a brute-force gap replay and " +
      "cv2 is positive") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = EventAnalytics.queries("q_event_interarrival")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (ty, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._2)).toSeq
      val gaps = ordered.sliding(2).collect { case Seq(a, b) =>
        b._3 - a._3 }.toSeq
      val n = gaps.length.toLong
      val sg = gaps.sum
      val sgg = gaps.map(g => BigInt(g) * BigInt(g)).sum
      val r = out(ty)
      assert(r.getAs[Long]("n_gaps") == n, s"$ty n")
      assert(r.getAs[Long]("sg") == sg, s"$ty sg")
      assert(r.getAs[Double]("mean_gap_us") ==
        sg.toDouble / n.toDouble, s"$ty mean")
      val cv2 = BigDecimal(BigInt(n) * sgg - BigInt(sg) * BigInt(sg))
        .toDouble / BigDecimal(BigInt(sg) * BigInt(sg)).toDouble
      assert(r.getAs[Double]("cv2") == cv2, s"$ty cv2")
      assert(cv2 > 0.0, s"$ty cv2 positive")
    }
  }

  test("q_stats_ad_2sample equals a plain-Scala midrank replay and " +
      "exceeds zero") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val byVal = rows.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1 == "click").toLong, g.count(_._1 == "view").toLong)
    }.toSeq.sortBy(_._1)
    val n1 = byVal.map(_._2._1).sum
    val n2 = byVal.map(_._2._2).sum
    val nn = n1 + n2
    var c1 = 0L; var c2 = 0L
    var s1 = BigInt(0); var s2 = BigInt(0)
    byVal.foreach { case (_, (d1, d2)) =>
      c1 += d1; c2 += d2
      val l = d1 + d2
      val b2 = 2 * (c1 + c2) - l
      val m2a = 2 * c1 - d1; val m2b = 2 * c2 - d2
      val dend = BigInt(nn) * (BigInt(b2) * BigInt(2 * nn - b2)
        - BigInt(nn) * BigInt(l))
      if (dend != 0) {
        def term(m2: Long, na: Long): BigInt = {
          val num = BigInt(l) * BigInt(nn * m2 - na * b2) *
            BigInt(nn * m2 - na * b2)
          BigInt(math.floor(BigDecimal(num).toDouble /
            BigDecimal(dend).toDouble * 1e10 + 0.5).toLong)
        }
        s1 += term(m2a, n1); s2 += term(m2b, n2)
      }
    }
    val ad = (nn - 1).toDouble / nn.toDouble *
      (BigDecimal(s1).toDouble / n1.toDouble +
        BigDecimal(s2).toDouble / n2.toDouble) / 1e10
    val r = StatsTests.queries("q_stats_ad_2sample")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2)
    assert(r.getAs[Long]("k_values") == byVal.length.toLong)
    assert(r.getAs[Double]("ad_stat") == ad)
    assert(ad > 0.0)
  }

  test("q_stats_mood_median equals a brute-force median-split table") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val pooled = rows.map(_._2).sorted
    val n = pooled.length
    val vLo = pooled((n + 1) / 2 - 1)
    val vHi = pooled(n / 2)
    val med2 = vLo + vHi
    def cells(ty: String) = {
      val vs = rows.filter(_._1 == ty).map(_._2)
      (vs.count(v => v + v > med2).toLong,
        vs.count(v => v + v < med2).toLong)
    }
    val (a, c) = cells("click")
    val (b, dd) = cells("view")
    val r = StatsTests.queries("q_stats_mood_median")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("a") == a && r.getAs[Long]("b") == b
      && r.getAs[Long]("c") == c && r.getAs[Long]("dd") == dd)
    val nUsed = a + b + c + dd
    assert(r.getAs[Long]("n_used") == nUsed)
    val num = BigInt(a) * BigInt(dd) - BigInt(b) * BigInt(c)
    val chi2 = nUsed.toDouble * BigDecimal(num).toDouble *
      BigDecimal(num).toDouble /
      ((a + b).toDouble * (c + dd).toDouble *
        (a + c).toDouble * (b + dd).toDouble)
    assert(r.getAs[Double]("chi2") == chi2)
    assert(chi2 >= 0.0)
  }

  test("q_stats_mcnemar equals a brute-force user-day cell count") {
    val rows = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .collect()
      .map(r => ((r.getLong(0), r.getDate(1).toString), r.getString(2)))
    val cells = rows.groupBy(_._1).values.map { evs =>
      (evs.exists(_._2 == "click"), evs.exists(_._2 == "purchase"))
    }.toSeq
    val b = cells.count { case (hc, hp) => hc && !hp }.toLong
    val c = cells.count { case (hc, hp) => !hc && hp }.toLong
    val r = StatsTests.queries("q_stats_mcnemar")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_subjects") == cells.length.toLong)
    assert(r.getAs[Long]("b") == b && r.getAs[Long]("c") == c)
    assert(b + c > 0, "fixture has discordant user-days")
    val chi2 = (b - c).toDouble * (b - c).toDouble / (b + c).toDouble
    assert(r.getAs[Double]("chi2") == chi2)
    val cc = (math.abs(b - c) - 1.0) * (math.abs(b - c) - 1.0) /
      (b + c).toDouble
    assert(r.getAs[Double]("chi2_cc") == cc)
  }
}
