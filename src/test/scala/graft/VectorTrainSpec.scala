package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** Embedding quantization + k-means step: ground truth recomputed in
  * plain Scala with the same exact-integer arithmetic. */
class VectorTrainSpec extends SparkSpec {
  import spark.implicits._

  private def intsOf(emb: Seq[Float]): Seq[Long] = emb.map { x =>
    BigDecimal(x.toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(10000000)).toLong
  }

  test("q_embed_quantize matches exact-integer ground truth") {
    val out = VectorOps.queries("q_embed_quantize")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    embs.foreach { case (id, emb) =>
      val ints = intsOf(emb)
      val mx = ints.map(math.abs).max
      val q = ints.map(v => math.floor(v * 127.0 / mx + 0.5).toLong)
      val err = ints.zip(q).map { case (v, w) => math.abs(v * 127 - w * mx) }.sum
      val (oMx, oCsv, oErr) = out(id)
      assert(oMx == mx && oErr == err, s"vec $id scale/err mismatch")
      assert(oCsv == q.mkString(","), s"vec $id codes mismatch")
      q.foreach(c => assert(c >= -127 && c <= 127))
    }
  }

  test("q_embed_rp matches the md5-parity sign projection ground truth") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Double = {
      val hex = md.digest(s"rp_${p}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("0123456789abcdef".indexOf(hex.charAt(0)) % 2 == 0) 1.0 else -1.0
    }
    val out = VectorOps.queries("q_embed_rp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    embs.foreach { case (id, emb) =>
      (0 until 16).foreach { p =>
        // mirror the fold: per-element product rounded to DECIMAL(20,8),
        // exact decimal accumulation, one final toDouble
        val expected = emb.zipWithIndex.map { case (x, i) =>
          BigDecimal(x.toDouble * sign(p, i))
            .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
        assert(out((id, p.toLong)) == expected, s"vec $id dim $p")
      }
    }
    assert(out.size == embs.length * 16)
  }

  test("q_ann_ivf_nprobe searches exactly the probe's two nearest clusters") {
    val out = VectorOps.queries("q_ann_ivf_nprobe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val cents = embs.filter(_._1 < 8).sortBy(_._1)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    // exact-decimal dot, mirroring dotExpr's DECIMAL(20,10) fold
    def dotExact(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble * y.toDouble)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    val assign = embs.map { case (id, e) =>
      id -> cents.maxBy { case (cid, c) => (dot(e, c), -cid.toDouble) }._1
    }.toMap
    val probeEmb = embs.find(_._1 == 0L).get._2
    val probeTop2 = cents.map { case (cid, c) => (cid, dot(probeEmb, c)) }
      .sortBy { case (cid, d) => (-d, cid) }.take(2).map(_._1).toSet
    val expected = embs
      .filter { case (id, _) => id != 0L && probeTop2(assign(id)) }
      .map { case (id, e) => (id, dotExact(e, probeEmb)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(out.toSeq == expected.toSeq)
  }

  test("q_ann_ivf_curve is a monotone recall/cost curve bounded by the " +
      "corpus and top-10") {
    val rows = VectorOps.queries("q_ann_ivf_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    val n = Tables.table(spark, sf, "embeddings").count() - 1 // minus probe
    rows.foreach { case (_, searched, hit) =>
      assert(hit >= 0 && hit <= 10 && hit <= searched)
      assert(searched <= n)
    }
    // more probed clusters can only widen the candidate set
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 })
    // nprobe = 4 must at least match nprobe = 1's recall on any input
    assert(rows.last._3 >= rows.head._3)
  }

  test("q_ann_recall emits one bounded row per panel probe") {
    val rows = VectorOps.queries("q_ann_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until 16L))
    rows.foreach { case (_, hit, total) =>
      assert(total == 3L && hit >= 0 && hit <= 3)
    }
  }

  test("q_ann_ndcg: one row per panel probe, the ideal DCG is the " +
      "portable-log2 constant shared by every probe, and ndcg is the " +
      "declared ratio inside [0, 1]") {
    // replay the bit-portable chain in plain Scala (same expression,
    // same evaluation order — IEEE doubles agree bit-for-bit)
    def plog2(n: Long): Double = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
      val m = n.toDouble / (1L << e).toDouble
      val z = (m - 1.0) / (m + 1.0)
      val z2 = z * z
      e.toDouble + (2.0 * (z * (1.0 + z2 * (1.0 / 3.0 + z2 *
        (1.0 / 5.0 + z2 * (1.0 / 7.0 + z2 * (1.0 / 9.0 + z2 *
          (1.0 / 11.0))))))) / 0.6931471805599453)
    }
    val idealQ = (1 to 10).map { i =>
      math.floor((11.0 - i) / plog2(i + 1L) * 1e10 + 0.5).toLong
    }.sum
    val rows = VectorOps.queries("q_ann_ndcg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (0L until 16L))
    rows.foreach { case (p, overlap, dcgQ, idcgQ, ndcg) =>
      assert(idcgQ == idealQ, s"probe $p ideal DCG")
      assert(overlap >= 0 && overlap <= 10, s"probe $p overlap")
      assert(dcgQ >= 0 && dcgQ <= idcgQ, s"probe $p dcg bounds")
      assert(ndcg == dcgQ.toDouble / idcgQ.toDouble, s"probe $p ratio")
      // a perfect approx list scores exactly 1
      if (overlap == 10 && dcgQ == idcgQ) assert(ndcg == 1.0)
    }
    // the fixture's bucketed pipeline finds SOMETHING on the panel
    assert(rows.map(_._2).sum > 0, "zero overlap across all probes")
  }

  test("q_ann_recall_multi dominates single-table recall per probe " +
      "(its candidate set is a superset, and a true top-3 neighbor can " +
      "only be outranked by other true top-3 members)") {
    def byProbe(q: String): Map[Long, Long] =
      VectorOps.queries(q)(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = byProbe("q_ann_recall")
    val multi = byProbe("q_ann_recall_multi")
    assert(single.keySet == multi.keySet && single.size == 16)
    single.keySet.foreach { p =>
      assert(multi(p) >= single(p), s"probe $p lost recall with 4 tables")
    }
  }

  test("q_ann_dim_truncate: one bounded row per (dims, probe), and the " +
      "32-dim prefix retains at least the 16-dim prefix's aggregate " +
      "recall (fixture-measured: 13 vs 6 of 48 at sf0.001)") {
    val rows = VectorOps.queries("q_ann_dim_truncate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq(16L, 32L))
    Seq(16L, 32L).foreach { dm =>
      assert(rows.filter(_._1 == dm).map(_._2).sorted.toSeq ==
        (0L until 16L), s"dims=$dm must cover the 16-probe panel")
    }
    rows.foreach { case (_, _, hit, total) =>
      assert(total == 3L && hit >= 0 && hit <= 3)
    }
    def tot(dm: Long) = rows.filter(_._1 == dm).map(_._3).sum
    assert(tot(32) >= tot(16),
      s"32-dim recall ${tot(32)} below 16-dim ${tot(16)}")
  }

  test("q_kmeans_converge: the Lloyd update strictly reduces inertia on " +
      "the fixture (81e15 -> 47e15 at sf0.001) and moves a positive " +
      "minority of vectors") {
    val rows = VectorOps.queries("q_kmeans_converge")(spark, sf).collect()
    assert(rows.length == 2)
    val r1 = rows.find(_.getLong(0) == 1L).get
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r1.getLong(1) == r2.getLong(1), "vector count must not change")
    // inertia ships as the §7.4 VARCHAR routing (the one >2^53 value in
    // the inventory); parse the exact digit string back
    val i1 = BigDecimal(r1.getString(2))
    val i2 = BigDecimal(r2.getString(2))
    assert(i2 < i1, s"iteration-2 inertia $i2 not below $i1")
    assert(r1.isNullAt(3), "iteration 1 has no previous assignment")
    val moved = r2.getLong(3)
    assert(moved > 0 && moved < r2.getLong(1),
      s"moved count $moved out of band")
  }

  test("q_kmeans_iter assigns by argmax cosine and averages exactly") {
    val out = VectorOps.queries("q_kmeans_iter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val cents = embs.filter(_._1 < 8).sortBy(_._1)
    // brute-force assignment with double dots (ties impossible on the
    // fixtures; the declared query's fast-vs-exact note covers this)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val assign = embs.map { case (id, e) =>
      id -> cents.maxBy { case (cid, c) => (dot(e, c), -cid.toDouble) }._1
    }.toMap
    // per-(cluster, dim) counts and exact-decimal means
    val byCluster = embs.groupBy { case (id, _) => assign(id) }
    byCluster.foreach { case (cid, members) =>
      (0 until 64).foreach { pos =>
        val vals = members.map(_._2(pos))
        val sumDec = vals.map(x => BigDecimal(x.toDouble)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
        val mean = sumDec.toDouble / vals.size
        val (n, m) = out((cid, pos.toLong))
        assert(n == vals.size, s"cluster $cid pos $pos count")
        assert(m == mean, s"cluster $cid pos $pos mean $m vs $mean")
      }
    }
    // every (cluster, pos) row accounted for
    assert(out.size == byCluster.size * 64)
  }

  test("q_ann_pq_residual: residual encoding strictly reduces the " +
      "corpus quantization error and improves most vectors") {
    val r = VectorOps.queries("q_ann_pq_residual")(spark, sf)
      .collect()(0)
    val (n, plain, res, improved) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // full corpus covered, both error sums positive (non-vacuous)
    assert(n == Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull).count())
    assert(plain > 0L && res > 0L)
    // the Jégou §III claim on unit-norm data: residuals concentrate
    // near zero, so the same codebook budget quantizes them better —
    // in aggregate AND for the majority of vectors
    assert(res < plain, s"residual $res !< plain $plain")
    assert(improved * 2 > n, s"only $improved of $n vectors improved")
  }

  test("q_label_prototypes: three ranked members per label, and the " +
      "rank-1 dot is the label's true maximum") {
    val out = VectorOps.queries("q_label_prototypes")(spark, sf).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("dot")))
    val byLabel = out.groupBy(_._1)
    byLabel.foreach { case (lbl, rows) =>
      assert(rows.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)),
        s"label $lbl ranks ${rows.map(_._2).toList}")
      // within a label the ranked dots are non-increasing
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted.sliding(2).forall(p => p(0) >= p(1)))
    }
    // brute-force the winner for one label: recompute integer dots
    // against the label centroid on the same grid
    val lbl = out.head._1
    val vecs = Tables.table(spark, sf, "embeddings")
      .filter(col("label") === lbl && col("embedding").isNotNull)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) " +
          "AS DECIMAL(18,7)) * 10000000 AS BIGINT))").as("iv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dim = vecs.head._2.length
    val cent = (0 until dim).map { i =>
      val s = vecs.map(_._2(i)).map(BigInt(_)).sum
      // floor(sum/n + 0.5) on the double path, as both engines compute
      math.floor(s.toDouble / vecs.length + 0.5).toLong
    }.toArray
    val best = vecs.map { case (id, iv) =>
      (id, iv.zip(cent).map { case (a, b) => a * b }.sum)
    }.maxBy(t => (t._2, -t._1))
    val rank1 = out.filter(r => r._1 == lbl && r._2 == 1L).head
    assert((rank1._3, rank1._4) == best,
      s"label $lbl winner ${(rank1._3, rank1._4)} != brute $best")
  }

  test("q_embed_dedup_exact: fingerprint groups partition the corpus " +
      "and keep their minimum id") {
    val out = VectorOps.queries("q_embed_dedup_exact")(spark, sf)
      .collect()
    val n = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull).count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == n)
    assert(out.map(_.getString(0)).distinct.length == out.length)
  }

  test("q_rank_fusion: RRF dominance — a doc on both lists outscores " +
      "any doc whose best rank is worse on both") {
    val out = VectorOps.queries("q_rank_fusion")(spark, sf).collect()
    assert(out.length == 10)
    val rrfs = out.map(_.getAs[Double]("rrf"))
    assert(rrfs.sliding(2).forall(p => p(0) >= p(1)), "not rrf-sorted")
    out.foreach { r =>
      val (cr, tr) = (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))
      assert(cr.isDefined || tr.isDefined)
      // recompute the fused score from the reported ranks
      val expect = (cr.toSeq ++ tr.toSeq)
        .map(k => BigDecimal(1.0 / (60 + k))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-12,
        s"doc ${r.getLong(0)} rrf mismatch")
    }
  }

  test("q_dedup_semantic: pairs stay inside their cluster and ranks " +
      "order the exact cosine") {
    val out = VectorOps.queries("q_dedup_semantic")(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cosine")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (c, rows) =>
      val ranked = rows.sortBy(_._2)
      assert(ranked.map(_._2).toSeq == (1L to ranked.length.toLong).toSeq,
        s"cluster $c ranks")
      assert(ranked.map(_._5).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)), s"cluster $c order")
      rows.foreach(r => assert(r._3 < r._4))
    }
  }

  test("q_ann_hamming equals a plain-Scala sign-bit pack + popcount " +
      "top-10 replay") {
    val out = VectorOps.queries("q_ann_hamming")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("hamming")))
    val embs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def pack(v: Array[Float]): (Long, Long) = {
      var (w0, w1) = (0L, 0L)
      for (i <- 0 until 32) if (v(i) > 0) w0 |= 1L << i
      for (i <- 32 until 64) if (v(i) > 0) w1 |= 1L << (i - 32)
      (w0, w1)
    }
    val probe = pack(embs.find(_._1 == 0L).get._2)
    val brute = embs.filter(_._1 != 0L).map { case (id, v) =>
      val (w0, w1) = pack(v)
      (id, (java.lang.Long.bitCount(w0 ^ probe._1)
        + java.lang.Long.bitCount(w1 ^ probe._2)).toLong)
    }.sortBy(p => (p._2, p._1)).take(10).toSeq
    assert(out.toSeq == brute, s"hamming top-10 diverged")
  }

  test("q_ann_hamming_panel equals a plain-Scala per-probe popcount " +
      "top-10 replay over the fixed 32-probe panel") {
    val out = VectorOps.queries("q_ann_hamming_panel")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("hamming"), r.getAs[Long]("rnk")))
    val embs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def pack(v: Array[Float]): (Long, Long) = {
      var (w0, w1) = (0L, 0L)
      for (i <- 0 until 32) if (v(i) > 0) w0 |= 1L << i
      for (i <- 32 until 64) if (v(i) > 0) w1 |= 1L << (i - 32)
      (w0, w1)
    }
    val packed = embs.map { case (id, v) => id -> pack(v) }
    val brute = packed.filter(_._1 < 32).sortBy(_._1).flatMap {
      case (pid, (pw0, pw1)) =>
        packed.filter(_._1 != pid).map { case (id, (w0, w1)) =>
          (id, (java.lang.Long.bitCount(w0 ^ pw0)
            + java.lang.Long.bitCount(w1 ^ pw1)).toLong)
        }.sortBy(p => (p._2, p._1)).take(10).zipWithIndex.map {
          case ((id, hd), i) => (pid, id, hd, i + 1L)
        }
    }.toSeq
    assert(out.length == brute.length && out.toSeq == brute,
      "hamming panel top-10 diverged")
  }

  test("q_ann_hamming_multiprobe equals a plain-Scala 37-bucket probe " +
      "replay: candidate count, hit count and recall all match the " +
      "brute-force bucketed scan") {
    val row = VectorOps.queries("q_ann_hamming_multiprobe")(spark, sf)
      .collect().head
    val embs = Tables.table(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def pack(v: Array[Float]): (Long, Long) = {
      var (w0, w1) = (0L, 0L)
      for (i <- 0 until 32) if (v(i) > 0) w0 |= 1L << i
      for (i <- 32 until 64) if (v(i) > 0) w1 |= 1L << (i - 32)
      (w0, w1)
    }
    val packed = embs.map { case (id, v) => (id, pack(v)) }
    val (pw0, pw1) = packed.find(_._1 == 0L).get._2
    val pb = pw0 % 256
    val masks = Seq(0) ++ (0 until 8).map(1 << _) ++
      (for (i <- 0 until 8; j <- i + 1 until 8)
        yield (1 << i) | (1 << j))
    val probeBuckets = masks.map(m => pb ^ m).toSet
    assert(probeBuckets.size == 37, "masks must be distinct")
    def ham(w: (Long, Long)): Long =
      (java.lang.Long.bitCount(w._1 ^ pw0)
        + java.lang.Long.bitCount(w._2 ^ pw1)).toLong
    val cands = packed.filter(_._1 != 0L)
      .filter(p => probeBuckets(p._2._1 % 256))
    val approx = cands.map(p => (p._1, ham(p._2)))
      .sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
    val exact = packed.filter(_._1 != 0L).map(p => (p._1, ham(p._2)))
      .sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
    val hit = (approx & exact).size.toLong
    assert(row.getLong(0) == 37L)
    assert(row.getLong(1) == cands.length.toLong, "n_candidates")
    assert(row.getLong(2) == hit, "hit10")
    assert(row.getDouble(3) == hit.toDouble / 10.0, "recall10")
  }

  test("q_embed_knn_classify equals a plain-Scala exact-decimal kNN " +
      "replay (top-5 vote, leave-one-out)") {
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    assume(embs.nonEmpty)
    def dotExact(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) =>
        BigDecimal(x.toDouble * y.toDouble)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    val probes = embs.filter(_._1 < 32)
    val preds = probes.map { case (pid, pe, plabel) =>
      val top5 = embs.filter(_._1 != pid)
        .map { case (nid, ne, nl) => (nid, nl, dotExact(ne, pe)) }
        .sortBy { case (nid, _, d) => (-d, nid.toDouble) }
        .take(5)
      val vote = top5.groupBy(_._2).map { case (l, v) => (l, v.length) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head._1
      (plabel, vote)
    }
    val expect = preds.groupBy(_._1).map { case (l, v) =>
      l -> (v.length.toLong, v.count(p => p._2 == p._1).toLong)
    }
    val out = VectorOps.queries("q_embed_knn_classify")(spark, sf)
      .collect()
    assert(out.map(_.getInt(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (n, c) = expect(r.getInt(0))
      assert(r.getLong(1) == n && r.getLong(2) == c,
        s"label ${r.getInt(0)}")
    }
    assert(out.map(_.getLong(1)).sum == probes.length.toLong)
  }

  test("q_embed_centroid_drift equals a plain-Scala grid-centroid " +
      "replay on both snapshots") {
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    assume(embs.nonEmpty)
    def centroids(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.groupBy(_._3).map { case (l, v) =>
        val grids = v.map(r => intsOf(r._2))
        val n = grids.length
        l -> (n.toLong, grids.transpose.map(xs =>
          math.floor(xs.sum.toDouble / n + 0.5).toLong))
      }
    val co = centroids(embs.filter(_._1 % 7 != 3))
    val cn = centroids(embs.filter(_._1 % 11 != 5))
    val out = VectorOps.queries("q_embed_centroid_drift")(spark, sf)
      .collect()
    assert(out.map(_.getLong(0)).toSet ==
      (co.keySet & cn.keySet).map(_.toLong))
    out.foreach { r =>
      val l = r.getLong(0).toInt
      val (nOld, mo) = co(l)
      val (nNew, mn) = cn(l)
      val diffs = mo.zip(mn).map { case (a, b) => math.abs(b - a) }
      assert(r.getLong(1) == nOld && r.getLong(2) == nNew,
        s"label $l counts")
      assert(r.getLong(3) == diffs.sum, s"label $l l1")
      assert(r.getLong(4) == diffs.max, s"label $l max")
    }
    // the snapshot conventions must actually move at least one centroid
    assert(out.map(_.getLong(3)).sum > 0, "no drift synthesized")
  }

  test("q_embed_cka equals a plain-Scala centered-Frobenius replay " +
      "and sits in (0, 1]") {
    val embs = Tables.table(spark, sf, "embeddings")
      .select("embedding").as[Seq[Float]].collect()
    assume(embs.nonEmpty)
    val q = embs.map(_.map(x =>
      math.floor(x.toDouble * 1e5 + 0.5).toLong))
    val n = q.length
    val dims = q.head.length
    val lin = (0 until dims).map(p => q.map(_(p)).map(BigInt(_)).sum)
    def cIJ(i: Int, j: Int): BigInt = {
      val sxy = q.map(v => BigInt(v(i)) * BigInt(v(j))).sum
      BigInt(n) * sxy - lin(i) * lin(j)
    }
    var sxy2 = BigInt(0); var sxx2 = BigInt(0); var syy2 = BigInt(0)
    for (i <- 0 until dims; j <- 0 until dims) {
      val c2 = { val c = cIJ(i, j); c * c }
      if (i < 32 && j >= 32) sxy2 += c2
      else if (i < 32 && j < 32) sxx2 += c2
      else if (i >= 32 && j >= 32) syy2 += c2
    }
    val cka = BigDecimal(sxy2).toDouble /
      (math.sqrt(BigDecimal(sxx2).toDouble) *
        math.sqrt(BigDecimal(syy2).toDouble))
    val r = VectorOps.queries("q_embed_cka")(spark, sf).collect().head
    assert(r.getAs[Long]("n_vecs") == n.toLong)
    assert(r.getAs[Double]("cka") == cka)
    assert(cka > 0.0 && cka <= 1.0)
  }

  test("q_embed_mmd equals a plain-Scala mean-difference replay over " +
      "every label pair") {
    val embs = Tables.table(spark, sf, "embeddings")
      .select("embedding", "label").as[(Seq[Float], Int)].collect()
    assume(embs.nonEmpty)
    val byLabel = embs.groupBy(_._2).view.mapValues { g =>
      val qs = g.toSeq.map(_._1.toSeq.map(x =>
        BigInt(math.floor(x.toDouble * 1e7 + 0.5).toLong)))
      (g.length.toLong, qs.transpose.map(_.sum))
    }.toMap
    val labels = byLabel.keySet.toSeq.sorted
    val pairs = for { a <- labels; b <- labels if a < b } yield (a, b)
    val out = VectorOps.queries("q_embed_mmd")(spark, sf).collect()
    assert(out.length == pairs.length, "one row per unordered pair")
    out.foreach { r =>
      val (a, b) = (r.getInt(0), r.getInt(1))
      val (na, sa) = byLabel(a)
      val (nb, sb) = byLabel(b)
      assert(r.getLong(2) == na && r.getLong(3) == nb, s"counts $a,$b")
      val num = sa.zip(sb).map { case (x, y) =>
        val t = x * nb - y * na; t * t }.sum
      val mmd = BigDecimal(num).toDouble /
        (na.toDouble * nb.toDouble * na.toDouble * nb.toDouble) / 1e14
      assert(r.getDouble(4) == mmd, s"mmd $a,$b")
      assert(mmd >= 0.0, s"mmd non-negative $a,$b")
    }
  }

  test("q_embed_silhouette equals a plain-Scala centroid replay and " +
      "stays within [-1, 1]") {
    val embs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    assume(embs.nonEmpty)
    def grid(e: Seq[Float]): Seq[Long] =
      e.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    val cent = embs.groupBy(_._3).view.mapValues { g =>
      val qs = g.toSeq.map(r => grid(r._2))
      (g.length.toLong, qs.transpose.map(xs => xs.map(BigInt(_)).sum))
    }.toMap
    val sils = embs.map { case (_, emb, lab) =>
      val q = grid(emb)
      def dist(l: Int): Double = {
        val (n, s) = cent(l)
        val dd = q.zip(s).map { case (qi, si) =>
          val t = BigInt(qi) * n - si; t * t }.sum
        math.sqrt(BigDecimal(dd).toDouble) / n.toDouble
      }
      val a = dist(lab)
      val b = cent.keys.filter(_ != lab).map(dist).min
      val sil = if (math.max(a, b) == 0.0) 0.0
        else (b - a) / math.max(a, b)
      lab -> math.floor(sil * 1e10 + 0.5).toLong
    }
    val expect = sils.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong,
        g.map(_._2).sum.toDouble / g.length.toDouble / 1e10)
    }.toMap
    val out = VectorOps.queries("q_embed_silhouette")(spark, sf)
      .collect()
    assert(out.map(_.getInt(0)).toSet == expect.keySet)
    out.foreach { r =>
      val (n, m) = expect(r.getInt(0))
      assert(r.getLong(1) == n, s"label ${r.getInt(0)} count")
      assert(r.getDouble(2) == m, s"label ${r.getInt(0)} mean")
      assert(m >= -1.0 && m <= 1.0)
    }
  }

  test("q_embed_label_margin: ascending margins, own label never the " +
      "best-other, arithmetic consistent") {
    val out = VectorOps.queries("q_embed_label_margin")(spark, sf)
      .collect()
    assert(out.length == 20)
    val margins = out.map(_.getAs[Long]("margin"))
    assert(margins.sliding(2).forall(p => p(0) <= p(1)))
    out.foreach { r =>
      assert(r.getAs[Long]("label") != r.getAs[Long]("best_other_label"))
      assert(r.getAs[Long]("margin") ==
        r.getAs[Long]("own_dot") - r.getAs[Long]("best_other_dot"))
    }
  }

  test("q_ann_ndcg ground-truth margin: the fastdot top-20 prefilter " +
      "contains the single-stage exact top-10 for every panel probe " +
      "(the assumption the DuckDB oracle's one-stage ranking rests on)") {
    // q_ann_ndcg's exact side ranks fast top-20 → exact top-10 while the
    // oracle ranks single-stage by the exact dot; they agree only while
    // the fast/exact margin holds on the fixture. Assert it explicitly
    // at BOTH local scale factors so a fixture or plane-count change
    // fails HERE, loudly, instead of silently diverging the engines.
    import org.apache.spark.sql.expressions.Window
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val emb = Tables.table(spark, dir, "embeddings")
      val probes = broadcast(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("p_id"), col("embedding").as("pe")))
      val corpus = emb.select(col("vec_id").as("nb_id"),
        col("embedding").as("eb"))
      val scored = corpus.crossJoin(probes)
        .filter(col("nb_id") =!= col("p_id"))
        .withColumn("fastdot", VectorOps.fastDot("eb", "pe"))
        .withColumn("cosine", VectorOps.dotExpr("eb", "pe"))
        .withColumn("_rn", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("p_id")
            .orderBy(desc_nulls_last("fastdot"), asc_nulls_last("nb_id"))))
        .withColumn("_rx", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("p_id")
            .orderBy(desc_nulls_last("cosine"), asc_nulls_last("nb_id"))))
        .select("p_id", "nb_id", "_rn", "_rx")
        .collect()
      val fast20 = scored.filter(_.getInt(2) <= 20)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact10 = scored.filter(_.getInt(3) <= 10)
        .map(r => (r.getLong(0), r.getLong(1)))
      val escaped = exact10.filterNot(fast20.contains)
      assert(escaped.isEmpty,
        s"$dir: exact top-10 pairs outside the fast top-20 margin: " +
          escaped.take(5).mkString(", "))
    }
  }
}
