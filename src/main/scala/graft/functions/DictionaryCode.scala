package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native dictionary recode of a string column: the `int` code its value
  * has in `dictionary`, NULL for a NULL input and for a value the
  * dictionary does not hold. Keys compare as binary UTF-8
  * (`UTF8String.equals`), as a string `=` and a string-keyed equi-join do
  * under the default collation; a NULL mapping key matches nothing.
  *
  * It replaces a `when`-chain of `key = 'k'` tests (one per level) and a
  * broadcast hash join against a `(key, code)` frame: one hash lookup per
  * row inside whole-stage codegen, no exchange and no extra job. The
  * dictionary is a reference object of the generated code, so it travels
  * in the task binary; the plan string shows only its key count.
  */
case class DictionaryCode(child: Expression, dictionary: DictionaryCode.Dictionary)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (default collation), got ${t.sql}")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "dictionary_code"

  override protected def stringArgs: Iterator[Any] = Iterator(child, s"${dictionary.size} keys")

  override def nullSafeEval(input: Any): Any = dictionary.code(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dict = ctx.addReferenceObj("dictionary", dictionary)
    val code = ctx.freshName("code")
    nullSafeCodeGen(ctx, ev, key =>
      s"""
         |Integer $code = $dict.code($key);
         |${ev.isNull} = $code == null;
         |if (!${ev.isNull}) ${ev.value} = $code;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DictionaryCode =
    copy(child = newChild)
}

object DictionaryCode {

  /** The UTF-8 keys of a `String -> code` mapping, NULL keys left out. */
  final class Dictionary(mapping: Map[String, Int]) extends Serializable {
    private val codes = new java.util.HashMap[UTF8String, Integer](mapping.size * 2)
    mapping.foreach { case (k, v) => if (k != null) codes.put(UTF8String.fromString(k), v) }
    // plan rules hash expressions repeatedly; a 100k-key hash is worth keeping
    private val hash = codes.hashCode

    def size: Int = codes.size

    /** The code of a non-null key, or null when it is not held. */
    def code(key: UTF8String): Integer = codes.get(key)

    override def equals(other: Any): Boolean = other match {
      case d: Dictionary => codes.equals(d.codes)
      case _ => false
    }

    override def hashCode: Int = hash
  }
}
