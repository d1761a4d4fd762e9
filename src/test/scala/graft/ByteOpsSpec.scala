package graft

import org.apache.spark.sql.functions._

/** r13 native-expression equivalence pins: the codegen'd
  * [[graft.functions.ByteSumRange]] and [[graft.functions.SimHash16]]
  * must reproduce — bit for bit, including edge arithmetic — the
  * interpreted HOF expressions they replaced in q_multimodal_tar and
  * q_dedup_simhash (the r13 optimization round's two hottest per-row
  * folds). The HOF forms are re-stated here verbatim as the reference.
  */
class ByteOpsSpec extends SparkSpec {
  import spark.implicits._

  /** The exact HOF checksum fold q_multimodal_tar shipped through r12. */
  private val hofTarChecksum =
    "aggregate(transform(sequence(0, 511), i -> CASE WHEN " +
      "i >= 148 AND i < 156 THEN CAST(32 AS BIGINT) ELSE " +
      "CAST(conv(substring(h, 2 * i + 1, 2), 16, 10) AS BIGINT) " +
      "END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  /** The exact HOF vote fold q_dedup_simhash shipped through r12. */
  private val hofSimhash =
    "CAST(aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, j) -> " +
      "acc + CASE WHEN aggregate(hs, CAST(0 AS BIGINT), (a2, h) -> " +
      "a2 + 2 * (CAST(floor((instr('0123456789abcdef', " +
      "substring(h, CAST(floor(j/4) AS INT) + 1, 1)) - 1) " +
      "/ pow(2, 3 - j % 4)) AS BIGINT) % 2) - 1) > 0 " +
      "THEN CAST(pow(2, j) AS BIGINT) " +
      "ELSE CAST(0 AS BIGINT) END) AS BIGINT)"

  test("byte_sum_range reproduces the tar HOF checksum on random " +
      "512-byte headers (and clamps out-of-range slices)") {
    val rnd = new scala.util.Random(13)
    val payloads = (1 to 64).map { _ =>
      val b = new Array[Byte](512); rnd.nextBytes(b); b
    }
    val df = payloads.toDF("payload")
      .withColumn("h", hex(col("payload")))
      .withColumn("hof", expr(hofTarChecksum))
      .withColumn("nat", expr(
        "byte_sum_range(payload, 0, 148) " +
          "+ byte_sum_range(payload, 156, 512) + CAST(256 AS BIGINT)"))
    val rows = df.select("hof", "nat").collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // clamping: until beyond length and from below zero behave like the
    // mathematical sum over the intersection with the payload
    val small = Seq(Array[Byte](1, 2, 3)).toDF("payload")
      .select(expr("byte_sum_range(payload, -5, 99)").as("s"),
        expr("byte_sum_range(payload, 2, 2)").as("e"))
      .head()
    assert(small.getLong(0) == 6L && small.getLong(1) == 0L)
  }

  test("simhash16 reproduces the HOF vote fold on fixture documents " +
      "and on adversarial token hashes") {
    val docs = Tables.table(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .withColumn("hs", expr("transform(split(text, ' '), t -> md5(t))"))
      .withColumn("hof", expr(hofSimhash))
      .withColumn("nat", expr("simhash16(hs)"))
    val rows = docs.select("hof", "nat").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // edge arithmetic the HOF form defined implicitly: non-hex chars
    // (instr−1 = −1 path), short strings (nibble 0), a NULL element
    // (poisons every vote → 0), and the empty array
    val edge = Seq(
      Seq("ZZZZ", "00ff"), // non-hex digits
      Seq("ab"), // shorter than 4 chars
      Seq("ffff", "ffff", "0000"), // majority vote
      Seq[String](), // empty
      Seq("f0f0", null), // NULL element
      null // NULL array
    ).toDF("hs")
      .withColumn("hof", expr(hofSimhash))
      .withColumn("nat", expr("simhash16(hs)"))
    edge.select("hof", "nat").collect().foreach { r =>
      val h = if (r.isNullAt(0)) 0L else r.getLong(0)
      assert(h == r.getLong(1), s"edge mismatch: $r")
    }
  }

  /** The exact HOF window fold q_text_mattr shipped through r12 (W
    * spliced). */
  private def hofMattr(w: Int): String =
    s"CAST(CASE WHEN size(toks) >= $w THEN " +
      s"aggregate(transform(sequence(0, size(toks) - $w), " +
      s"i -> size(array_distinct(slice(toks, i + 1, $w)))), " +
      "0, (a, x) -> a + x) " +
      "ELSE size(array_distinct(toks)) END AS BIGINT)"

  test("mattr_sum_distinct reproduces the HOF sliding-window distinct " +
      "sum on fixture documents and on adversarial token arrays") {
    for (w <- Seq(3, 50)) {
      val docs = Tables.table(spark, sf, "documents")
        .filter(col("text").isNotNull)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("hof", expr(hofMattr(w)))
        .withColumn("nat", expr(s"mattr_sum_distinct(toks, $w)"))
      docs.select("hof", "nat").collect()
        .foreach(r => assert(r.getLong(0) == r.getLong(1), s"w=$w"))
    }
    // repeats crossing window edges, a null element (array_distinct
    // counts null once), the all-same array, and the shorter-than-W arm
    val edge = Seq(
      Seq("a", "b", "a", "a", "c", "b"),
      Seq("a", null, "a", null, "b"),
      Seq("x", "x", "x", "x"),
      Seq("a", "b")
    ).toDF("toks")
      .withColumn("hof", expr(hofMattr(3)))
      .withColumn("nat", expr("mattr_sum_distinct(toks, 3)"))
    edge.select("hof", "nat").collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1), s"edge: $r"))
  }

  test("pq_dists reproduces the interpreted PQ distance-table fold on " +
      "random scaled vectors and on slice/NULL edge shapes") {
    val hof = FoldReferences.pqDists("iv", 8, 8)
    val base = spark.range(64)
      .withColumn("iv", expr(
        "transform(sequence(0, 63), i -> " +
          "CAST(hash(id, i) % 10000000 AS BIGINT))"))
    val cb = base.filter("id < 4")
      .agg(sort_array(collect_list(struct(
        col("id").cast("long").as("cid"), col("iv").as("cv"))))
        .as("cbs"))
      .withColumn("_one", lit(1))
    val rows = base.withColumn("_one", lit(1)).join(cb, "_one")
      .withColumn("hof", expr(hof))
      .withColumn("nat", expr("pq_dists(iv, cbs, 8, 8)"))
      .select(expr("hof <=> nat").as("eq")).collect()
    assert(rows.length == 64 && rows.forall(_.getBoolean(0)))
    // edge shapes the HOF fold defined implicitly: short vectors
    // (partial slices poison via zip_with NULL padding; equally-short
    // slices fold the available prefix; two empty slices fold to 0),
    // NULL elements, NULL iv/cv/cid, a NULL codebook struct, the empty
    // codebook, and a NULL codebook array
    val edge = spark.sql(
      """SELECT iv, cbs FROM VALUES
        | (array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8, 9, 10),
        |  array(named_struct('cid', CAST(0 AS BIGINT), 'cv',
        |    array(CAST(5 AS BIGINT), 4, 3, 2, 1, 0, -1, -2, -3, -4)))),
        | (array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8, 9, 10),
        |  array(named_struct('cid', CAST(1 AS BIGINT), 'cv',
        |    array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8, 9, 10, 11,
        |      12, 13, 14, 15, 16)))),
        | (array(CAST(1 AS BIGINT), NULL, 3, 4, 5, 6, 7, 8),
        |  array(named_struct('cid', CAST(2 AS BIGINT), 'cv',
        |    array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8)))),
        | (CAST(NULL AS ARRAY<BIGINT>),
        |  array(named_struct('cid', CAST(3 AS BIGINT), 'cv',
        |    array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8)))),
        | (array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8),
        |  array(named_struct('cid', CAST(4 AS BIGINT),
        |    'cv', CAST(NULL AS ARRAY<BIGINT>)),
        |   named_struct('cid', CAST(NULL AS BIGINT), 'cv',
        |    array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8)),
        |   CAST(NULL AS STRUCT<cid: BIGINT, cv: ARRAY<BIGINT>>))),
        | (array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8),
        |  CAST(array() AS ARRAY<STRUCT<cid: BIGINT, cv: ARRAY<BIGINT>>>)),
        | (array(CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7, 8),
        |  CAST(NULL AS ARRAY<STRUCT<cid: BIGINT, cv: ARRAY<BIGINT>>>))
        | AS t(iv, cbs)""".stripMargin)
      .withColumn("hof", expr(hof))
      .withColumn("nat", expr("pq_dists(iv, cbs, 8, 8)"))
    edge.select(expr("hof <=> nat").as("eq"), col("hof"), col("nat"))
      .collect()
      .foreach(r => assert(r.getBoolean(0),
        s"edge mismatch: hof=${r.get(1)} nat=${r.get(2)}"))
  }

  /** The exact md5/conv/div-mod weight chain q_stats_bootstrap_se
    * shipped through r13, restated as one array expression. */
  private def hofBootstrapWs: String = {
    def g(dIdx: Int, pos: Int, len: Int): String =
      s"CAST(conv(substring(md5(concat('${('a' + dIdx - 1).toChar}_', " +
        s"CAST(id AS STRING))), $pos, $len), 16, 10) AS BIGINT)"
    val ws = (1 to 32).map { b =>
      val dIdx = (b - 1) / 8 + 1
      val sel = (b - 1) % 8 match {
        case 0 => s"(${g(dIdx, 1, 12)} div 4294967296)"
        case 1 => s"((${g(dIdx, 1, 12)} div 65536) % 65536)"
        case 2 => s"(${g(dIdx, 1, 12)} % 65536)"
        case 3 => s"(${g(dIdx, 13, 12)} div 4294967296)"
        case 4 => s"((${g(dIdx, 13, 12)} div 65536) % 65536)"
        case 5 => s"(${g(dIdx, 13, 12)} % 65536)"
        case 6 => s"(${g(dIdx, 25, 8)} div 65536)"
        case _ => s"(${g(dIdx, 25, 8)} % 65536)"
      }
      s"($sel % 3)"
    }
    ws.mkString("array(", ", ", ")")
  }

  test("bootstrap_w32 reproduces the md5/conv weight chain on fixture " +
      "event ids and on adversarial ids") {
    val ids = Tables.table(spark, sf, "events").select("event_id")
      .limit(500)
      .unionByName(Seq(0L, -1L, -987654321L, Long.MaxValue,
        Long.MinValue).toDF("event_id"))
      .withColumnRenamed("event_id", "id")
    val rows = ids
      .withColumn("hof", expr(hofBootstrapWs))
      .withColumn("nat", expr("bootstrap_w32(id)"))
      .select(expr("hof <=> nat").as("eq"), col("id")).collect()
    assert(rows.length > 500 && rows.forall(_.getBoolean(0)))
    // NULL id: the old chain's md5(concat(NULL)) poisoned every weight
    val n = Seq[Option[Long]](None).toDF("id")
      .select(expr("bootstrap_w32(id)").as("ws")).head()
    assert(n.isNullAt(0))
  }
}
