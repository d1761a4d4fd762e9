package graft

import org.apache.spark.sql.functions._

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
}
