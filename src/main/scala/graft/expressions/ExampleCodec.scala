package graft.expressions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.serialization.{ExampleKernel, ExampleScratch}

/** Shared codegen of the two codec expressions: the kernel is a
  * reference object and each generated instance (one per task) owns its
  * scratch. Interpreted eval keeps a scratch per thread, since one
  * expression instance can be evaluated by several threads (driver-side
  * folding of a plan shared by concurrent queries). */
private[expressions] trait ExampleKernelCall extends UnaryExpression {
  def schema: StructType
  @transient protected lazy val kernel = new ExampleKernel(schema)
  @transient private lazy val scratches =
    ThreadLocal.withInitial[ExampleScratch](() => kernel.newScratch())
  protected def scratch: ExampleScratch = scratches.get

  protected def kernelCall(ctx: CodegenContext, ev: ExprCode, method: String): ExprCode = {
    val k = ctx.addReferenceObj("exampleKernel", kernel, classOf[ExampleKernel].getName)
    val sc = ctx.addMutableState(classOf[ExampleScratch].getName, "exampleScratch",
      v => s"$v = $k.newScratch();")
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $k.$method($in, $sc);")
  }
}

/** `tf.train.Example` bytes of a struct of columns laid out as `schema`:
  * the Catalyst-side encoder of [[graft.serialization.TFExampleCodec]],
  * reading the internal row directly. */
case class EncodeExample(child: Expression, schema: StructType)
    extends ExampleKernelCall {

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, schema, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"encode_example needs ${schema.simpleString}, got ${child.dataType.simpleString}")

  override def dataType: DataType = BinaryType

  override def nullSafeEval(input: Any): Any =
    kernel.encode(input.asInstanceOf[InternalRow], scratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    kernelCall(ctx, ev, "encode")

  override protected def withNewChildInternal(newChild: Expression): EncodeExample =
    copy(child = newChild)
}

/** The row of `schema` held by `tf.train.Example` bytes: the
  * Catalyst-side decoder of [[graft.serialization.TFExampleCodec]],
  * building the internal row straight from the wire. */
case class DecodeExample(child: Expression, schema: StructType)
    extends ExampleKernelCall {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"decode_example needs binary, got $other")
  }

  override def dataType: DataType = schema

  override def nullSafeEval(input: Any): Any =
    kernel.decode(input.asInstanceOf[Array[Byte]], scratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    kernelCall(ctx, ev, "decode")

  override protected def withNewChildInternal(newChild: Expression): DecodeExample =
    copy(child = newChild)
}

object EncodeExample {
  def apply(row: Column, schema: StructType): Column =
    GraftSql.column(EncodeExample(GraftSql.expression(row), schema))
}

object DecodeExample {
  def apply(bytes: Column, schema: StructType): Column =
    GraftSql.column(DecodeExample(GraftSql.expression(bytes), schema))
}
