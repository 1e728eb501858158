package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The CCNet-style normalization step after `lower`: keep `[a-z0-9]`,
  * drop every other character, and squash each run of spaces left
  * behind to one space, in a single pass over the UTF-8 bytes.
  *
  * It equals `regexp_replace(regexp_replace(x, '[^a-z0-9 ]', ''),
  * ' +', ' ')` on every input, invalid UTF-8 included: every byte of a
  * multi-byte character is >= 0x80 and is dropped, and the regex path
  * decodes an invalid byte to U+FFFD and deletes that too. A space is
  * emitted only when the last emitted byte was not one, so a space run
  * joined across deleted characters collapses as it does after the
  * first regex. Case mapping stays with Spark's own `lower` in front of
  * it, so ICU's mappings (KELVIN SIGN to `k`) still apply.
  *
  * Why native: the two regexes and their `String` round trips drew
  * 35 % of the executor CPU samples of perfbench's `query_mix` at
  * sf0.1, all from `q_dedup_normalized`; this is one allocation and one
  * loop per row, inside whole-stage codegen.
  */
object AlnumSquash {

  def squash(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var i = 0
    var j = 0
    var space = false
    while (i < n) {
      val b = s.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        out(j) = b; j += 1; space = false
      } else if (b == ' ' && !space) {
        out(j) = b; j += 1; space = true
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, j)
  }

  /** Column entry point: `AlnumSquash(lower(text))`. */
  def apply(c: Column): Column =
    Bridge.column(AlnumSquashExpr(Bridge.expression(c)))
}

/** [[AlnumSquash.squash]] as a codegen'd scalar expression. */
case class AlnumSquashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"alnum_squash expects string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    AlnumSquash.squash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.AlnumSquash.squash($a)")

  override protected def withNewChildInternal(
      newChild: Expression): AlnumSquashExpr = copy(child = newChild)
}
