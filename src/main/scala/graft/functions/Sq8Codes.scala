package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType}

/** Native SQ8 encode of an `array<double>` vector against the range
  * parameters `mins`/`widths` (both `array<double>`, [[Sq8Stats]]):
  * element i codes to
  * `least(255, greatest(0, floor((x - mins[i]) / widths[i] * 255 + 0.5)))`,
  * and to 0 when `widths[i] = 0`. `shifted` emits `code - 128` as
  * `tinyint` (the 1-byte codes the quantized kNN verify ships), otherwise
  * the `int` code.
  *
  * It replaces a `transform(vec, (x, i) => ... element_at(mins, i + 1)
  * ...)` lambda that ran interpreted per element, and keeps its value for
  * every input:
  *   - `floor` is Spark's double -> bigint floor (NaN -> 0, +-Inf
  *     saturate), clamped in double;
  *   - a null element, a null `mins[i]`/`widths[i]` or a null params
  *     array codes to 0 (`greatest` skips the null), and so does a NaN
  *     width or a NaN element (floor(NaN) = 0);
  *   - `widths[i] = 0` compares in SQL order, so -0.0 is 0 too;
  *   - a params array shorter than the vector fails with `element_at`'s
  *     out-of-bounds error under ANSI mode and codes 0 without it;
  *   - a NULL vector is NULL; an empty vector is empty.
  */
case class Sq8Codes(
    vec: Expression,
    mins: Expression,
    widths: Expression,
    shifted: Boolean,
    failOnError: Boolean = SQLConf.get.ansiEnabled
) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = mins
  override def third: Expression = widths

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, mins.dataType, widths.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, m, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires three array<double> arguments, got ${v.sql}, ${m.sql}, ${w.sql}")
    }

  override def dataType: DataType =
    ArrayType(if (shifted) ByteType else IntegerType, containsNull = true)

  override def nullable: Boolean = vec.nullable

  override def prettyName: String = "sq8_codes"

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else encode(v.asInstanceOf[ArrayData], mins.eval(input).asInstanceOf[ArrayData],
      widths.eval(input).asInstanceOf[ArrayData])
  }

  /** Whether params array `p` holds a value at `i`: false for a null
    * array or element, and past its end too, unless ANSI mode makes that
    * `element_at`'s out-of-bounds error. */
  private def present(p: ArrayData, i: Int): Boolean =
    if (p == null) false
    else if (i >= p.numElements()) {
      if (failOnError) throw org.apache.spark.sql.graft.ErrorBridge
        .elementAtOutOfBounds(i + 1, p.numElements())
      false
    } else !p.isNullAt(i)

  /** The codes of a non-null vector. The params are read in the order the
    * lambda read them (the width test, then the element, then the min),
    * so the same inputs raise the same out-of-bounds error. */
  def encode(v: ArrayData, mn: ArrayData, wd: ArrayData): ArrayData = {
    val n = v.numElements()
    val ints = if (shifted) null else new Array[Int](n)
    val bytes = if (shifted) new Array[Byte](n) else null
    var i = 0
    while (i < n) {
      val hasWidth = present(wd, i)
      val c =
        if (hasWidth && SQLOrderingUtil.compareDoubles(wd.getDouble(i), 0.0) == 0) 0
        else if (v.isNullAt(i) || !present(mn, i) || !hasWidth) 0
        else Sq8Codes.code(v.getDouble(i), mn.getDouble(i), wd.getDouble(i))
      if (shifted) bytes(i) = (c - 128).toByte else ints(i) = c
      i += 1
    }
    if (shifted) UnsafeArrayData.fromPrimitiveArray(bytes)
    else UnsafeArrayData.fromPrimitiveArray(ints)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sq8Codes", this)
    val v = vec.genCode(ctx)
    val m = mins.genCode(ctx)
    val w = widths.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |boolean ${ev.isNull} = ${v.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${m.code}
      |  ${w.code}
      |  ${ev.value} = $self.encode(${v.value}, ${m.isNull} ? null : ${m.value},
      |    ${w.isNull} ? null : ${w.value});
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Sq8Codes =
    copy(vec = newFirst, mins = newSecond, widths = newThird)
}

object Sq8Codes {
  /** The code of a non-null `x` against a non-null, non-zero width. */
  def code(x: Double, mn: Double, wd: Double): Int = {
    val floored = math.floor((x - mn) / wd * 255.0 + 0.5).toLong.toDouble
    math.min(255.0, math.max(0.0, floored)).toInt
  }
}
