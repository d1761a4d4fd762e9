package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, EvalMode, Expression, ExpressionInfo, Literal, Multiply, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * This is the "custom Catalyst Expression" tier of the extension ladder
  * (compose built-ins → custom Expression → custom plan/strategy): the
  * built-in higher-order functions evaluate a lambda per element through
  * the interpreter, and a Scala UDF pays serialization at every call; this
  * expression generates a tight Java loop inside whole-stage codegen —
  * the hot path for brute-force similarity screening at scale.
  *
  * Double arithmetic in ascending index order — deterministic for a given
  * pair, independent of partitioning. (Final oracle-grade rankings still
  * go through the exact-decimal fold; this is the screening kernel.)
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"float_dot requires (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Engine function catalog: the custom expressions every session gets
  * through [[GraftFunctionsProvider]]. A new native function is one entry
  * here; nothing registers functions per call. */
object GraftFunctions {
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (children: Seq[Expression]) => FloatDot(children(0), children(1))),
    (new FunctionIdentifier("decimal_dot"),
      new ExpressionInfo(classOf[DecimalDot].getName, "decimal_dot"),
      (children: Seq[Expression]) =>
        DecimalDot(children(0), children(1), 10)),
    (new FunctionIdentifier("decimal_wdot"),
      new ExpressionInfo(classOf[DecimalDot].getName, "decimal_wdot"),
      (children: Seq[Expression]) =>
        DecimalDot(children(0), children(1), 8)),
    (new FunctionIdentifier("byte_sum_range"),
      new ExpressionInfo(classOf[ByteSumRange].getName, "byte_sum_range"),
      (children: Seq[Expression]) =>
        ByteSumRange(children(0), children(1), children(2))),
    (new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => SimHash16(children(0))),
    (new FunctionIdentifier("mattr_sum_distinct"),
      new ExpressionInfo(classOf[MattrSumDistinct].getName,
        "mattr_sum_distinct"),
      (children: Seq[Expression]) =>
        MattrSumDistinct(children(0), children(1))),
    (new FunctionIdentifier("pq_dists"),
      new ExpressionInfo(classOf[PqDists].getName, "pq_dists"),
      (children: Seq[Expression]) =>
        PqDists(children(0), children(1), children(2), children(3))),
    (new FunctionIdentifier("bootstrap_w32"),
      new ExpressionInfo(classOf[BootstrapW32].getName, "bootstrap_w32"),
      (children: Seq[Expression]) => BootstrapW32(children(0))),
    // catalyst's UnscaledValue: DECIMAL → its exact unscaled BIGINT —
    // a free field read for compact (p ≤ 18) decimals, loud
    // longValueExact past long range. Used by Det.dsumProd4 to multiply
    // scaled units as plain longs instead of BigDecimals.
    (new FunctionIdentifier("unscaled"),
      new ExpressionInfo(classOf[UnscaledValue].getName, "unscaled"),
      (children: Seq[Expression]) => UnscaledValue(children(0))),
    // The exact-sum path's per-row steps with the eval mode fixed to
    // ANSI rather than read from spark.sql.ansi.enabled, which the
    // Column API cannot express: checked_decimal(x, p, s) is CAST(x AS
    // DECIMAL(p, s)) that throws instead of nulling out of range, and
    // checked_mul(a, b) is a multiply that throws instead of wrapping.
    (new FunctionIdentifier("checked_decimal"),
      new ExpressionInfo(classOf[Cast].getName, "checked_decimal"),
      (children: Seq[Expression]) => Cast(children(0),
        DecimalType(children(1).eval().asInstanceOf[Int],
          children(2).eval().asInstanceOf[Int]),
        None, EvalMode.ANSI)),
    (new FunctionIdentifier("checked_mul"),
      new ExpressionInfo(classOf[Multiply].getName, "checked_mul"),
      (children: Seq[Expression]) =>
        Multiply(children(0), children(1), EvalMode.ANSI)),
    (new FunctionIdentifier("sum128"),
      new ExpressionInfo(classOf[Sum128].getName, "sum128"),
      (children: Seq[Expression]) =>
        if (children.size == 1)
          Sum128(children(0), Literal(null))
        else Sum128(children(0), children(1))))
}
