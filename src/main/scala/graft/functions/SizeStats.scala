package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-driven per-row statistics expressions.
  *
  * Reproduces the reference's byte/word accounting semantics
  * (dataset_grouper/tf_utils.py:20-60) as pure Catalyst Column
  * compositions — no UDFs, fully codegen'd, so the hot path stays inside
  * WholeStageCodegen at any scale.
  *
  * Byte-size semantics (tf_utils.py:20-31): strings count their UTF-8
  * byte length; fixed-width numerics count `num_elements * sizeof(dtype)`
  * (a schema-time constant — no runtime work at all); nested structures
  * sum over their leaves (tf_utils.py:34-41). Accumulation is in int64 to
  * avoid overflow (tf_utils.py:29-31).
  */
object ByteSize {

  /** Fixed byte width for a primitive type, or None if runtime-dependent. */
  private def fixedWidth(dt: DataType): Option[Long] = dt match {
    case ByteType | BooleanType          => Some(1L)
    case ShortType                       => Some(2L)
    case IntegerType | FloatType         => Some(4L)
    case LongType | DoubleType           => Some(8L)
    case DateType                        => Some(4L)
    case TimestampType | TimestampNTZType => Some(8L)
    case _: DecimalType                  => Some(16L)
    case _                               => None
  }

  /** Byte size of a single column of type `dt`. Nulls count as 0. */
  def exprFor(c: Column, dt: DataType): Column = dt match {
    case StringType | BinaryType =>
      coalesce(octet_length(c).cast(LongType), lit(0L))
    case ArrayType(et, _) =>
      fixedWidth(et) match {
        // fixed-width element: size * sizeof — no per-element traversal
        case Some(w) => coalesce(size(c).cast(LongType) * lit(w), lit(0L))
        case None =>
          // variable-width elements: fold a sum over the array (codegen'd
          // higher-order function, not a UDF)
          coalesce(
            aggregate(c, lit(0L), (acc, x) => acc + exprFor(x, et)),
            lit(0L))
      }
    case st: StructType =>
      st.fields
        .map(f => exprFor(c.getField(f.name), f.dataType))
        .reduceOption(_ + _)
        .getOrElse(lit(0L))
    case other =>
      fixedWidth(other) match {
        case Some(w) => when(c.isNull, 0L).otherwise(lit(w))
        case None    => lit(0L)
      }
  }

  /** Sum of byte sizes over every field of `schema` — the per-row
    * `num_bytes` of the reference's counts pipeline (count_utils.py:61-65).
    */
  def exprFor(schema: StructType): Column =
    schema.fields
      .map(f => exprFor(col(f.name), f.dataType))
      .reduceOption(_ + _)
      .getOrElse(lit(0L))
}

/** Word counting with the reference's exact micro-semantics
  * (tf_utils.py:44-51): only string values count; the count is
  * `len(text.strip().split(' '))` — strip surrounding whitespace, then
  * split on SINGLE spaces, keeping empty tokens. Consequences (verified
  * against CPython, pinned in SizeStatsSpec): `'' -> 1`, `'  ' -> 1`,
  * `'a  b' -> 3`, `'a\nb' -> 1`.
  */
object WordCount {

  /** Word count of one string column. Null counts as 0 (absent value).
    * One byte scan ([[graft.expressions.StripSplitSize]]), no regex. */
  def expr(c: Column): Column = graft.expressions.StripSplitSize(c)

  /** Word count contributed by a column of arbitrary type: string leaves
    * count, numerics contribute 0, containers sum over string leaves
    * (tf_utils.py:55-60).
    */
  def exprFor(c: Column, dt: DataType): Column = dt match {
    case StringType => expr(c)
    case ArrayType(StringType, _) =>
      coalesce(aggregate(c, lit(0L), (acc, x) => acc + expr(x)), lit(0L))
    case ArrayType(et: StructType, _) =>
      coalesce(aggregate(c, lit(0L), (acc, x) => acc + exprFor(x, et)), lit(0L))
    case st: StructType =>
      st.fields
        .map(f => exprFor(c.getField(f.name), f.dataType))
        .reduceOption(_ + _)
        .getOrElse(lit(0L))
    case _ => lit(0L)
  }

  /** Sum of word counts over every string leaf of `schema`. */
  def exprFor(schema: StructType): Column =
    schema.fields
      .map(f => exprFor(col(f.name), f.dataType))
      .reduceOption(_ + _)
      .getOrElse(lit(0L))
}
