package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** One native SQL function: `name` calls the static method `method` of the
  * Scala object whose class is `kernel`, with arguments of `argTypes` and a
  * result of `dataType`. The last `params.length` arguments are constant
  * parameters, passed as `Literal`s: an INT size that must be >= 1, or a
  * non-empty matrix. `nullResult` marks a kernel that may itself return
  * null; null input always gives null output.
  */
final case class NativeSpec(
    name: String,
    kernel: Class[_],
    method: String,
    dataType: DataType,
    argTypes: Seq[DataType],
    params: Seq[String] = Nil,
    nullResult: Boolean = false)

/** A call of a [[NativeSpec]] kernel. Evaluation and codegen come from
  * Spark's `StaticInvoke` over this node's children: interpreted `eval`
  * finds the method by reflection from the argument types, and codegen
  * emits the static call `graft.functions.SomeKernel.method(args)` inside
  * whole-stage codegen. The `StaticInvoke` is not a child, so plans print
  * the SQL name, e.g. `md5_minhash_lanes(text#1, 8)`. Input types are
  * strict: `ExpectsInputTypes` without implicit casts. This lives in
  * `org.apache.spark.sql` because `AbstractDataType` is `private[sql]`.
  */
case class NativeCall(spec: NativeSpec, children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  @transient private lazy val invoke = StaticInvoke(spec.kernel, spec.dataType, spec.method,
    children, propagateNull = true, returnNullable = spec.nullResult)

  override def dataType: DataType = spec.dataType
  override def inputTypes: Seq[AbstractDataType] = spec.argTypes
  override def nullable: Boolean = invoke.nullable
  override def foldable: Boolean = invoke.foldable
  // StaticInvoke's interpreted eval reuses one argument buffer per instance
  override def stateful: Boolean = true
  override def prettyName: String = spec.name
  override def toString: String = s"${spec.name}(${children.mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"${spec.name} $msg")
    if (children.length != spec.argTypes.length)
      fail(s"takes ${spec.argTypes.length} argument(s), got ${children.length}")
    else super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess =>
        spec.params.zip(children.takeRight(spec.params.length)).collectFirst {
          case (p, Literal(n: Int, _)) if n < 1 => fail(s"requires $p >= 1, got $n")
          case (p, Literal(a: Array[_], _)) if a.isEmpty => fail(s"requires a non-empty $p")
        }.getOrElse(TypeCheckResult.TypeCheckSuccess)
      case failure => failure
    }
  }

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}
