package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature of an `array<string>` shingle set: element i
  * of the `array<bigint>` is the minimum over the set of Spark's
  * `xxhash64(shingle, i)` — XXH64 of the shingle's UTF-8 bytes with
  * Spark's seed 42, then `XXH64.hashInt(i, ·)` of that. A NULL shingle
  * hashes as `xxhash64` hashes a NULL input: it skips it, so the seed
  * alone goes into `hashInt(i, 42)`.
  *
  * It replaces an `explode` of the set, a `groupBy(id)` shuffle and
  * `numHashes` `min(xxhash64(shingle, i))` aggregates, whose whole-stage
  * classes overflowed Spark's codegen cache (a warm call recompiled
  * them). Here each row is one pass: every shingle is hashed once, then
  * chained once per hash function into a running minimum.
  *
  * A NULL or empty set is NULL: it has no minimum, as `explode` gave such
  * a row no signature. Rows are not merged: a set is one row's, so two
  * rows with one id keep two signatures.
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1, s"minHashSignature: numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument (default collation), got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_signature"

  /** The signature of a non-null set, NULL when it is empty. */
  def sign(set: ArrayData): ArrayData = {
    val n = set.numElements()
    if (n == 0) null
    else {
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var e = 0
      while (e < n) {
        val h =
          if (set.isNullAt(e)) MinHashSignature.Seed
          else {
            val s = set.getUTF8String(e)
            XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, MinHashSignature.Seed)
          }
        var i = 0
        while (i < numHashes) {
          val v = XXH64.hashInt(i, h)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        e += 1
      }
      UnsafeArrayData.fromPrimitiveArray(mins)
    }
  }

  override def nullSafeEval(input: Any): Any = sign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHash", this)
    nullSafeCodeGen(ctx, ev, set =>
      s"""
         |${ev.value} = $self.sign($set);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** The seed of Spark's `xxhash64`. */
  val Seed: Long = 42L
}
