package graft.expressions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's word count `len(text.strip().split(' '))`
  * (tf_utils.py:44-51) as one byte scan, value-identical to the
  * composition it replaced, `size(split(regexp_replace(s, '^\s+|\s+$',
  * ''), ' ', -1))` with null counting 0:
  *  - the leading run of Java-regex `\s` (ASCII space, \t, \n, \x0B, \f,
  *    \r) is stripped, and so is the trailing run, which `$` also finds
  *    before a final U+0085, U+2028 or U+2029 (`"a \u0085"` counts 1);
  *  - the count is one plus the single spaces left between them, so an
  *    empty or all-whitespace string counts 1.
  * Every multi-byte UTF-8 unit is >= 0x80, and the JDK decoder never
  * folds an ASCII byte into a malformed sequence, so scanning bytes is
  * exact for any input. */
case class StripSplitSize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"word count needs string, got $other")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) 0L else StripSplitSize.count(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L : graft.expressions.StripSplitSize.count(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): StripSplitSize =
    copy(child = newChild)
}

object StripSplitSize {

  def apply(c: Column): Column = GraftSql.column(StripSplitSize(GraftSql.converted(c)))

  @inline private def isWs(b: Int): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def count(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    // `$` matches before a final U+0085 (C2 85) / U+2028 / U+2029 (E2 80 A8/A9)
    val end =
      if (n >= 2 && at(n - 2) == 0xc2 && at(n - 1) == 0x85) n - 2
      else if (n >= 3 && at(n - 3) == 0xe2 && at(n - 2) == 0x80 &&
               (at(n - 1) == 0xa8 || at(n - 1) == 0xa9)) n - 3
      else n
    var a = 0
    while (a < n && isWs(at(a))) a += 1
    var b = end
    while (b > a && isWs(at(b - 1))) b -= 1
    var spaces = 0L
    while (a < b) {
      if (at(a) == 0x20) spaces += 1
      a += 1
    }
    spaces + 1
  }
}
