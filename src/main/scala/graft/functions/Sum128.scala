package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Exact 128-bit sum of scaled-long inputs — the accumulator behind
  * every DataFrame exact sum ([[graft.Det.exactSum]], [[graft.Det.dsum]],
  * [[graft.Det.dsumProd4]]): `sum128(d)` sums DECIMAL(p ≤ 18, s) values
  * into a two-long (hi, lo) buffer of unscaled units — UnscaledValue is
  * a FREE field read for compact decimals, so the per-row path is
  * long bit-ops — and emits the exact total as DECIMAL(p + 10, s), the
  * type `SUM` gives the same input.
  *
  * Why: `SUM(CAST(x AS DECIMAL(18,s)))` accumulates into a
  * DECIMAL(28,s) buffer — precision > 18 stores as a serialized
  * BigDecimal in the unsafe aggregation row, so every update pays a
  * deserialize + BigDecimal.add + reserialize (~0.2 s per aggregate
  * per 600k rows measured in r13's phase-by-phase profile of
  * q_agg_hash). This aggregate keeps the buffer as two primitive
  * longs on the fast unsafe-row path and stays inside whole-stage
  * codegen (every update/merge expression below is a codegen'd
  * bit-op/add).
  *
  * Exactness and overflow (§7.4 contract), independent of
  * `spark.sql.ansi.enabled`: the (hi, lo) pair is the 128-bit
  * two's-complement sum — headroom to ±1.7e38 scaled units vs the
  * plain-long alternative's ±9.2e18 (which a 100 TB group CAN exceed:
  * 6e11 lineitem rows × 1e9 scaled units ≈ 6e20 — the r13
  * measured-then-rejected trade). The low-limb add is built in LEGACY
  * eval mode, so it wraps mod 2^64 and its carry is propagated; the HIGH
  * limb adds are built in ANSI eval mode, so a genuine 128-bit overflow
  * (needs ~2^64 max-magnitude rows — physically unreachable) throws
  * rather than wrapping. The finalizer throws when the total does not
  * fit the result precision. Sum128Spec pins all three with ANSI off.
  *
  * Equivalence with `SUM(CAST(x AS DECIMAL(18,s)))` (same unscaled
  * integer total, same NULL-skipping, NULL on empty input) is
  * property-pinned in Sum128Spec.
  */
case class Sum128(child: Expression, scaleExpr: Expression)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child, scaleExpr)
  override def nullable: Boolean = true
  override def prettyName: String = "sum128"

  /** Two input modes:
    *  - `sum128(d)` over DECIMAL(p ≤ 18, s): the unscaled long is a
    *    FREE field read (compact decimals ARE their unscaled long);
    *  - `sum128(v, scale)` over BIGINT v = value·10^scale: for exact
    *    scaled products whose unscaled value exceeds 18 digits but
    *    fits a long (the dsumProd4 money×money case, up to ~9.2e18). */
  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, scaleExpr) match {
      case (d: DecimalType, Literal(null, _))
        if d.precision <= Decimal.MAX_LONG_DIGITS =>
        TypeCheckResult.TypeCheckSuccess
      case (d: DecimalType, _) =>
        TypeCheckResult.TypeCheckFailure(
          if (d.precision > Decimal.MAX_LONG_DIGITS)
            s"sum128 decimal input needs precision <= 18, got $d"
          else "sum128 over DECIMAL takes no scale argument")
      case (LongType, s) if s.foldable && s.dataType == IntegerType
        && s.eval() != null => TypeCheckResult.TypeCheckSuccess
      case (a, _) => TypeCheckResult.TypeCheckFailure(
        "sum128 requires DECIMAL(p<=18, s) or (BIGINT, literal int " +
          s"scale), got ($a, ${scaleExpr.dataType})")
    }

  private lazy val scaleV: Int = child.dataType match {
    case d: DecimalType => d.scale
    case _ => scaleExpr.eval().asInstanceOf[Int]
  }
  /** SUM's result precision for a DECIMAL input; 38 for scaled longs. */
  private lazy val precisionV: Int = child.dataType match {
    case d: DecimalType => d.precision + 10
    case _ => DecimalType.MAX_PRECISION
  }
  override def dataType: DataType = DecimalType(precisionV, scaleV)

  /** The input's exact scaled-long value (see the mode doc above). */
  private def unscaled: Expression = child.dataType match {
    case _: DecimalType => UnscaledValue(child)
    case _ => child
  }

  private lazy val hi =
    AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo =
    AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** A long add that wraps mod 2^64 whatever the session's ANSI
    * setting: the low limb's wrap is deliberate, its carry is [[carry]]. */
  private def wrappingAdd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** Carry-out of the unsigned 64-bit add a + b = s. */
  private def carry(a: Expression, b: Expression,
      s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b),
        BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))), Literal(63))

  /** A long add that throws on overflow whatever the session's ANSI
    * setting: the eval mode is fixed here, not read from the conf. */
  private def checkedAdd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.ANSI)

  override lazy val updateExpressions: Seq[Expression] = {
    val v = unscaled
    val newLo = wrappingAdd(lo, v)
    // sign-extend v to 128 bits (vHi = v >> 63 ∈ {0, −1}); the high
    // limb uses CHECKED adds — unreachable 128-bit overflow is loud
    val newHi =
      checkedAdd(checkedAdd(hi, ShiftRight(v, Literal(63))),
        carry(lo, v, newLo))
    Seq(
      If(IsNull(child), hi, newHi),
      If(IsNull(child), lo, newLo),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = wrappingAdd(lo.left, lo.right)
    val newHi = checkedAdd(checkedAdd(hi.left, hi.right),
      carry(lo.left, lo.right, newLo))
    Seq(newHi, newLo, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, Int128ToDecimal(hi, lo, precisionV, scaleV),
      Literal.create(null, dataType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1))
}

/** (hi, lo) 128-bit two's-complement pair → exact DECIMAL(precision,
  * scale). One call per GROUP (the [[Sum128]] finalizer), never per row.
  * Throws, under any session config, if the value exceeds `precision`
  * digits. */
case class Int128ToDecimal(hiE: Expression, loE: Expression,
    precision: Int, scale: Int) extends BinaryExpression {

  override def left: Expression = hiE
  override def right: Expression = loE
  override def dataType: DataType = DecimalType(precision, scale)
  override def prettyName: String = "int128_to_decimal"

  override def checkInputDataTypes(): TypeCheckResult =
    (hiE.dataType, loE.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"int128_to_decimal requires (bigint, bigint), got ($a, $b)")
    }

  override def nullSafeEval(h: Any, l: Any): Any =
    Int128ToDecimal.toDec(h.asInstanceOf[Long], l.asInstanceOf[Long],
      precision, scale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"${ev.value} = graft.functions.Int128ToDecimal$$.MODULE$$" +
        s".toDec($h, $l, $precision, $scale);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object Int128ToDecimal {
  /** Public so generated code can call it. A window frame calls it once
    * per ROW, so a total that fits a long skips the BigInteger. Both
    * Decimal.apply forms throw when the value does not fit `precision`
    * — they read no conf, so this holds with ANSI off too. */
  def toDec(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    if (hi == (lo >> 63)) return Decimal(lo, precision, scale)
    val b = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      b(i) = (hi >>> (56 - 8 * i)).toByte
      b(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val bi = new java.math.BigInteger(b)
    Decimal(scala.math.BigDecimal(new java.math.BigDecimal(bi, scale)),
      precision, scale)
  }
}
