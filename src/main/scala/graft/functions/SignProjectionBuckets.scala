package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst sign-random-projection banding over an `array<double>`
  * vector: `bands` buckets of `rowsPerBand` sign bits each, as one
  * `array<bigint>`. Band b's bit j is the sign of the projection onto
  * plane `p = b·rowsPerBand + j`, whose `dim` weights sit at
  * `weights[p·dim, (p+1)·dim)` (plane-major, computed on the driver).
  *
  * It replaces one `aggregate(zip_with(v, w_p, _*_), 0.0, _+_)` chain
  * per plane: higher-order functions that run interpreted per row, over
  * one literal array per plane (the [[ArrayDotProduct]] lesson, banding
  * flavor). Here all planes run in one codegen'd loop: the vector is read
  * into a reused scratch array once, and the weights are one reference
  * object.
  *
  * Bit parity with that formulation: each plane sums `acc = 0.0; acc +=
  * x(i) * w(i)` in ascending i, and the bit is set iff
  * `SQLOrderingUtil.compareDoubles(acc, 0.0) >= 0` — Spark's `>=`, so a
  * NaN projection sets the bit and -0.0 counts as 0.0. Bit j lands at
  * its local position j of its band's long.
  *
  * Degenerate inputs: NULL vector -> NULL; empty vector -> every bucket
  * `emptyBucket`; any other length than `dim`, or a null element, fails
  * the row with a `dim hint` message (the `raise_error` the HOF form
  * raised, because `zip_with` pads with NULLs).
  */
case class SignProjectionBuckets(
    child: Expression,
    weights: Seq[Double],
    bands: Int,
    rowsPerBand: Int,
    dim: Int,
    emptyBucket: Long,
    label: String
) extends UnaryExpression {

  require(bands >= 1 && rowsPerBand >= 1 && rowsPerBand <= 62 && dim >= 0,
    s"$label: bands=$bands, rowsPerBand=$rowsPerBand, dim=$dim out of range")
  require(weights.length == bands * rowsPerBand * dim,
    s"$label: expected ${bands * rowsPerBand * dim} weights, got ${weights.length}")

  @transient private lazy val w: Array[Double] = weights.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> argument, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "sign_projection_buckets"

  // the weights are thousands of doubles: keep them out of plan strings
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, bands, rowsPerBand, dim, emptyBucket, label)

  /** The `raise_error` exception the HOF form threw for a wrong length. */
  def dimMismatch(n: Int): RuntimeException = userError(
    s"$label: dim hint $dim does not match vector length $n")

  def nullElement(i: Int): RuntimeException = userError(
    s"$label: null element at index $i (dim hint $dim)")

  private def userError(msg: String): RuntimeException =
    org.apache.spark.sql.graft.ErrorBridge.userRaised(msg)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Long](bands)
    if (n == 0) java.util.Arrays.fill(out, emptyBucket)
    else {
      if (n != dim) throw dimMismatch(n)
      val x = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) throw nullElement(i)
        x(i) = v.getDouble(i); i += 1
      }
      var b = 0
      while (b < bands) {
        var bucket = 0L
        var j = 0
        while (j < rowsPerBand) {
          val base = (b * rowsPerBand + j) * dim
          var acc = 0.0d
          i = 0
          while (i < dim) { acc += x(i) * w(base + i); i += 1 }
          if (SQLOrderingUtil.compareDoubles(acc, 0.0d) >= 0) bucket |= 1L << j
          j += 1
        }
        out(b) = bucket
        b += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("signProjection", this)
    val wRef = ctx.addReferenceObj("weights", w, "double[]")
    val x = ctx.addMutableState("double[]", "x", v => s"$v = new double[$dim];")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val bucket = ctx.freshName("bucket")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $v.numElements();
         |final long[] $out = new long[$bands];
         |if ($n == 0) {
         |  java.util.Arrays.fill($out, ${emptyBucket}L);
         |} else {
         |  if ($n != $dim) throw $self.dimMismatch($n);
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($v.isNullAt($i)) throw $self.nullElement($i);
         |    $x[$i] = $v.getDouble($i);
         |  }
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long $bucket = 0L;
         |    for (int $j = 0; $j < $rowsPerBand; $j++) {
         |      final int $base = ($b * $rowsPerBand + $j) * $dim;
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $acc += $x[$i] * $wRef[$base + $i];
         |      }
         |      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($acc, 0.0) >= 0) {
         |        $bucket |= 1L << $j;
         |      }
         |    }
         |    $out[$b] = $bucket;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignProjectionBuckets =
    copy(child = newChild)
}
