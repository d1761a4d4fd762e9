package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.Sum128

/** r14 equivalence pins for [[graft.functions.Sum128]] — the two-long
  * 128-bit accumulator behind Det.dsum must produce the IDENTICAL value
  * as the SUM(DECIMAL(18,s)) form it replaced: same per-row rounding,
  * same exact total (including low-limb wraps past 2^63 of scaled
  * units), same NULL behavior, and the identical DOUBLE after the final
  * cast. The old form is restated verbatim as the reference.
  */
class Sum128Spec extends SparkSpec {
  import spark.implicits._

  private def natSql(scale: Int) =
    s"CAST(sum128(CAST(CAST(x AS DECIMAL(18,$scale)) " +
      s"* ${math.pow(10, scale).toLong} AS BIGINT), $scale) AS DOUBLE)"
  private def refSql(scale: Int) =
    s"CAST(SUM(CAST(x AS DECIMAL(18,$scale))) AS DOUBLE)"

  test("sum128 equals SUM(DECIMAL(18,s)) on random magnitudes, " +
      "negatives and NULLs, under partial/merge aggregation") {
    val rnd = new scala.util.Random(7)
    val xs: Seq[java.lang.Double] = (1 to 5000).map { i =>
      if (i % 97 == 0) null
      // magnitudes < 1e11: inside DECIMAL(18,s) for every tested scale
      // (s = 7 leaves 11 integer digits) — an out-of-domain value throws
      // identically on both forms under ANSI, which is not what this
      // test pins
      else java.lang.Double.valueOf(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(11)))
    }
    val df = xs.zipWithIndex
      .map { case (x, i) => (i % 7, x) }
      .toDF("g", "x")
      .repartition(8) // force partial buffers + merge path
    for (scale <- Seq(4, 6, 7)) {
      val rows = df.groupBy("g")
        .agg(expr(natSql(scale)).as("nat"), expr(refSql(scale)).as("ref"))
        .collect()
      assert(rows.length == 7)
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
          s"scale=$scale g=${r.get(0)}: nat=${r.get(1)} ref=${r.get(2)}")
      }
    }
  }

  test("sum128 carries exactly past the 64-bit boundary of scaled " +
      "units (the plain-long overflow cliff)") {
    // 4000 × ±9.9e13 at scale 4 → |scaled| partials cross 2^63 ≈ 9.2e18
    // many times; signs alternate with a positive bias so intermediate
    // magnitudes wander both ways across the boundary
    val xs = (1 to 4000).map(i =>
      if (i % 3 == 0) -99999999999999.53 else 99999999999999.53)
    val rows = xs.toDF("x").repartition(16)
      .agg(expr(natSql(4)).as("nat"), expr(refSql(4)).as("ref"))
      .collect()
    val r = rows.head
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"nat=${r.get(0)} ref=${r.get(1)}")
    // sanity: the total really is past the plain-long cliff
    assert(math.abs(r.getDouble(1)) > 1.2e17)
  }

  test("sum128 is NULL on an all-NULL group and on an empty relation, " +
      "like SUM") {
    val allNull = Seq[Option[Double]](None, None).toDF("x")
      .agg(expr(natSql(4)).as("nat"), expr(refSql(4)).as("ref")).head()
    assert(allNull.isNullAt(0) && allNull.isNullAt(1))
    val empty = Seq.empty[Double].toDF("x")
      .agg(expr(natSql(4)).as("nat"), expr(refSql(4)).as("ref")).head()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("Det.dsum and Det.davg on fixture lineitem match the " +
      "SUM(DECIMAL) reference bit-for-bit") {
    val li = Tables.table(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(Det.dsum(col("l_extendedprice")).as("nat"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("ref"),
        Det.davg(col("l_quantity")).as("anat"),
        (sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double") / count(col("l_quantity"))).as("aref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"dsum: $r")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(4)), s"davg: $r")
    }
  }

  test("withNewChildren replaces both children (the input and the scale)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val old = graft.functions.Sum128(Literal(1L), Literal(4))
    val fresh = old.withNewChildren(Seq(Literal(2L), Literal(8)))
    assert(fresh == graft.functions.Sum128(Literal(2L), Literal(8)))
  }

  test("sum128 resolves on a fresh session that never registered it") {
    // newSession() starts from the builtin registry plus the session
    // extensions, so only the service-loaded provider can supply it
    val fresh = spark.newSession()
    val r = fresh.range(3).select(
      Det.dsum(col("id").cast("double")).as("s")).head()
    assert(r.getDouble(0) == 3.0)
    // and so must every other native function in the catalog
    graft.functions.GraftFunctions.all.foreach { case (ident, info, _) =>
      val name = ident.funcName
      assert(fresh.catalog.functionExists(name), s"$name unresolved")
      assert(fresh.catalog.getFunction(name).className == info.getClassName,
        s"$name resolves to the wrong class")
    }
  }

  test("Det.exactSum has SUM(DECIMAL(18,s))'s type and value, grouped " +
      "and over a sliding window frame") {
    val ev = Tables.table(spark, sf, "events")
    def ref = sum(col("value").cast(DecimalType(18, 4)))
    val g = ev.groupBy("event_type")
      .agg(Det.exactSum(col("value")).as("nat"), ref.as("ref"))
    assert(g.schema("nat").dataType == DecimalType(28, 4))
    assert(g.schema("ref").dataType == DecimalType(28, 4))
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-6, 0)
    val rows = g.collect().toSeq ++ ev.select(lit("w"),
      Det.exactSum(col("value")).over(w), ref.over(w)).collect()
    assert(rows.size > 10)
    rows.foreach(r => assert(r.get(1) == r.get(2), s"$r"))
  }

  // ---- overflow throws with spark.sql.ansi.enabled=false -------------
  // Spark's own SUM, CAST and long arithmetic return NULL or wrap with
  // ANSI off; the exact-sum path fixes its eval mode instead.

  /** `f` with an ANSI-off session active, so expressions built inside
    * read `spark.sql.ansi.enabled=false` from SQLConf.get. */
  private def withAnsiOff[T](f: SparkSession => T): T = {
    val off = spark.newSession()
    off.conf.set("spark.sql.ansi.enabled", "false")
    SparkSession.setActiveSession(off)
    try {
      assert(!SQLConf.get.ansiEnabled)
      f(off)
    } finally SparkSession.setActiveSession(spark)
  }

  private def arithmeticCause(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[ArithmeticException] ||
      arithmeticCause(e.getCause))

  /** Evaluates `e` over `row`, interpreted and as generated code; both
    * must throw an ArithmeticException. */
  private def assertThrows(e: Expression, attrs: Seq[Attribute],
      row: InternalRow): Unit = {
    intercept[ArithmeticException](
      BindReferences.bindReference(e, attrs).eval(row))
    intercept[ArithmeticException](
      UnsafeProjection.create(Seq(e), attrs).apply(row))
  }

  test("ANSI off: Det.dsumProd4 throws on a row whose scaled product " +
      "passes 2^63") {
    withAnsiOff { off =>
      // 1e7 · 1e7 at scale 4 each: 1e11 · 1e11 = 1e22 units > 9.2e18
      val df = off.createDataFrame(Seq((1.0e7, 1.0e7), (1.0, 2.0)))
        .toDF("x", "y")
      val e = intercept[Exception](
        df.agg(Det.dsumProd4(col("x"), col("y"))).collect())
      assert(arithmeticCause(e), s"not an overflow: $e")
    }
  }

  test("ANSI off: Det.dsum throws on an addend outside DECIMAL(18,s)") {
    withAnsiOff { off =>
      // 1e15 needs 16 integer digits; DECIMAL(18,4) holds 14
      val df = off.createDataFrame(Seq(Tuple1(1.0e15), Tuple1(1.0)))
        .toDF("x")
      val e = intercept[Exception](df.agg(Det.dsum(col("x"))).collect())
      assert(arithmeticCause(e), s"not an overflow: $e")
    }
  }

  test("ANSI off: sum128's high-limb add throws on overflow (crafted " +
      "buffer rows; real data needs ~2^64 rows)") {
    withAnsiOff { _ =>
      val v = AttributeReference("v", LongType, nullable = false)()
      val agg = Sum128(v, Literal(0))
      // update: hi = Long.MaxValue, lo = 2^64 − 1, v = 1 — the low-limb
      // carry pushes hi past 2^63 − 1
      assertThrows(agg.updateExpressions.head, agg.aggBufferAttributes :+ v,
        InternalRow(Long.MaxValue, -1L, true, 1L))
      // merge: hi + hi' = Long.MaxValue + 1
      assertThrows(agg.mergeExpressions.head,
        agg.aggBufferAttributes ++ agg.inputAggBufferAttributes,
        InternalRow(Long.MaxValue, 0L, true, 1L, 0L, true))
    }
  }

  test("ANSI off: an exact sum past DECIMAL(28,s) throws (crafted " +
      "buffer; DECIMAL(18,s) addends need ~1e10 rows to get there)") {
    withAnsiOff { _ =>
      val d = AttributeReference("d", DecimalType(18, 4))()
      val agg = Sum128(d, Literal(null))
      def buffer(units: BigInt) =
        InternalRow((units >> 64).toLong, units.toLong, true)
      // 10^28 units at scale 4 = 1e24: one digit past DECIMAL(28,4)
      val units = BigInt(10).pow(28)
      assertThrows(agg.evaluateExpression, agg.aggBufferAttributes,
        buffer(units))
      assertThrows(agg.evaluateExpression, agg.aggBufferAttributes,
        buffer(-units))
      // the largest total that fits comes back exactly, and so do
      // totals on the one-long path (|units| < 2^63)
      val eval = BindReferences.bindReference(agg.evaluateExpression,
        agg.aggBufferAttributes)
      Seq(units - 1 -> ("9" * 24 + "." + "9" * 4),
        BigInt(Long.MaxValue) -> "922337203685477.5807",
        BigInt(Long.MinValue) -> "-922337203685477.5808",
        BigInt(-12345678) -> "-1234.5678"
      ).foreach { case (u, want) =>
        assert(eval.eval(buffer(u)).toString == want, s"$u units")
      }
    }
  }
}
