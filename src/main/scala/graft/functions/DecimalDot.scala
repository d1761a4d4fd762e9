package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd EXACT-decimal dot product at scale `s` — an
  * `array<float>` vector against an array of the form's right-hand
  * element type — bit-identical to the interpreted fold
  *
  *   `CAST(aggregate(zip_with(a, b, (x, y) -> CAST(CAST(x AS DOUBLE) *
  *    CAST(y AS DOUBLE) AS DECIMAL(20,s))), 0 :: DECIMAL(30,s),
  *    (acc, p) -> CAST(acc + p AS DECIMAL(30,s))) AS DOUBLE)`
  *
  * and therefore to the DuckDB oracle mirror. Two forms, one per SQL
  * name (see [[DecimalDot.form]]):
  *  - `decimal_dot(array<float>, array<float>)`, scale 10: the exact
  *    cosine of unit-norm embeddings;
  *  - `decimal_wdot(array<float>, array<double>)`, scale 8: weighted
  *    projections — the md5-derived hyperplanes of
  *    [[graft.operators.VectorOps.annBuckets]] (k + 0.5 half weights),
  *    q_embed_rp's ±1 signs, trained centroid means.
  * The interpreted fold allocates a Decimal per element per row; this is
  * one tight long-accumulating loop inside whole-stage codegen (~20×).
  *
  * Determinism argument: each product is EXACT in double — float·float
  * is 24+24 mantissa bits, and float·weight with a half-integer
  * |w| ≤ 16 is ≤ 24+5 bits, both < 53. Spark's double→DECIMAL(20,s)
  * cast rounds the product's SHORTEST DECIMAL STRING half-up
  * (BigDecimal.valueOf), which this expression reproduces — through a
  * fast double-arithmetic path while |p| stays within the form's bound,
  * where the binary-vs-shortest-string discrepancy (≤ ~2·ulp(p)·10^s) is
  * far inside the EPS = 1e-4 guard band around rounding boundaries, and
  * through the actual BigDecimal.valueOf path whenever the guard band is
  * hit, |p| exceeds the bound, or the value is non-finite. The scaled sum
  * is exact in a long for any realistic dimension (64 dims × |p| ≤ 16 at
  * scale 8 → ≤ 1.1e11 ≪ 2^63); the final decimal → double conversion is
  * correctly rounded. Matching the interpreted fold is locked per form by
  * a property test (FunctionsAndSourcesSpec).
  *
  * NULL semantics (same as the fold): null array, length mismatch
  * (zip_with pads with null), or null element → NULL result. Decimal
  * overflow (|term| ≥ 10^(20−s), |acc| ≥ 10^(30−s)) and non-finite
  * products mirror the fold under the session's ANSI setting: throw
  * (naming the SQL function) when ANSI (the Spark 4 default), NULL when
  * not.
  */
case class DecimalDot(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  private def form: DecimalDot.Form = DecimalDot.form(scale)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(w, _)) if w == form.weights =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${form.name} requires (array<float>, " +
          s"array<${form.weights.simpleString}>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = form.name
  // the scale is implied by the name: plans print `decimal_dot(a, b)`
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      scale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Double $boxed = graft.functions.DecimalDot.dot($a, $b, $scale);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object DecimalDot {
  private val Eps = 1e-4

  /** One exact-dot form: its SQL name, the right-hand element type, and
    * the largest |p| the fast path rounds in double arithmetic. */
  final class Form(val name: String, val scale: Int,
      val weights: DataType, val fastMaxP: Double) {
    val unit: Double = Math.pow(10, scale) // exact: an integer power
    // DECIMAL(20,s) holds |v| < 10^(20−s); a larger term's cast is null
    // (non-ANSI), nulling the whole fold
    val termOverflow: Double = Math.pow(10, 20 - scale)
    // DECIMAL(30,s) accumulator bound — the fold re-casts acc every step
    val sumOverflow: JBigDecimal = JBigDecimal.TEN.pow(30 - scale)
  }

  // |p| ≤ 1 keeps the fast path's rounding provably identical to
  // BigDecimal.valueOf half-up at scale 10: the discrepancy is
  // ≤ ~2·ulp(p)·1e10 ≈ 4.4e-6 there, far inside Eps. Above 1 it grows
  // with ulp(p) (measured mismatches from |p| ≈ 64), so larger terms
  // take the exact BigDecimal route. Unit-norm embedding products stay
  // below 1.
  private val Dot = new Form("decimal_dot", 10, FloatType, 1.0)
  // at scale 8 the discrepancy for |p| ≤ 16 is ≤ ~2·ulp(16)·1e8 ≈ 5e-7
  // ≪ Eps; covers every fixture hyperplane product (|w| ≤ 7.5, |x| ≤ ~1)
  private val WDot = new Form("decimal_wdot", 8, DoubleType, 16.0)

  def form(scale: Int): Form = scale match {
    case 10 => Dot
    case 8 => WDot
  }

  /** `BigDecimal.valueOf(p).setScale(s, HALF_UP)` — the exact per-term
    * semantics of Spark's double→DECIMAL(20,s) cast. */
  private def slowTerm(p: Double, scale: Int): JBigDecimal =
    JBigDecimal.valueOf(p).setScale(scale, RoundingMode.HALF_UP)

  /** Decimal overflow mirrors the fold under the session's ANSI setting:
    * ANSI (Spark 4 default) throws, non-ANSI yields NULL. */
  private def overflow(f: Form, p: Double, precision: Int): java.lang.Double =
    if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
      throw new ArithmeticException(
        s"${f.name}: $p cannot be represented as " +
          s"DECIMAL($precision,${f.scale}) " +
          "(set spark.sql.ansi.enabled=false to return NULL instead)")
    else null

  /** Null (boxed) on the fold's null/overflow conditions; else the exact
    * result. Accumulates in a long while every term's |p| is within the
    * form's fast bound and switches to BigDecimal accumulation the first
    * time a term is larger, so arbitrary magnitudes stay bit-identical to
    * the interpreted fold — including its overflow at the
    * DECIMAL(20,s)/(30,s) bounds. */
  def dot(x: ArrayData, y: ArrayData, scale: Int): java.lang.Double = {
    val f = form(scale)
    val n = x.numElements()
    if (n != y.numElements()) return null // zip_with pads with null
    // the form's fields as loop-invariant locals (measured: reading them
    // through `f` in the loop made decimal_dot ~6% slower)
    val wide = f.weights == DoubleType
    val unit = f.unit
    val fastMaxP = f.fastMaxP
    val termOverflow = f.termOverflow
    var sum = 0L
    var bigSum: JBigDecimal = null // non-null once in BigDecimal mode
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val w = if (wide) y.getDouble(i) else y.getFloat(i).toDouble
      val p = x.getFloat(i).toDouble * w
      if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p))
        return overflow(f, p, 20) // non-finite: ANSI throws too
      val ap = Math.abs(p)
      if (ap >= termOverflow) return overflow(f, p, 20)
      if (bigSum == null && ap <= fastMaxP) {
        val ay = ap * unit
        val fl = Math.floor(ay)
        val frac = ay - fl
        if (frac > 0.5 + Eps) {
          val r = fl.toLong + 1L; sum += (if (p < 0) -r else r)
        } else if (frac < 0.5 - Eps) {
          val r = fl.toLong; sum += (if (p < 0) -r else r)
        } else sum += slowTerm(p, scale).unscaledValue().longValueExact()
      } else {
        if (bigSum == null)
          bigSum = new JBigDecimal(BigInteger.valueOf(sum), scale)
        bigSum = bigSum.add(slowTerm(p, scale))
        if (bigSum.abs.compareTo(f.sumOverflow) >= 0)
          return overflow(f, p, 30)
      }
      i += 1
    }
    val result =
      if (bigSum != null) bigSum
      else new JBigDecimal(BigInteger.valueOf(sum), scale)
    java.lang.Double.valueOf(result.doubleValue())
  }
}
