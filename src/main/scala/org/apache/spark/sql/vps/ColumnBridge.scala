package org.apache.spark.sql.vps

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable, TaggingExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection, UserDefinedType}

/** Spark 4 made Column<->Expression conversion `private[sql]`; this shim (in an
  * org.apache.spark.sql subpackage) re-exposes it for our expression wrappers.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `AbstractDataType` is `private[sql]`, so expressions outside the spark.sql
  * package cannot declare `ExpectsInputTypes.inputTypes` directly; this trait
  * (living in the shim package) lets them state expected input types with
  * public `DataType`s and still get the analyzer's implicit casts.
  */
trait VpsImplicitCasts extends ImplicitCastInputTypes {
  self: Expression =>
  protected def coerceTo: Seq[DataType]
  override def inputTypes: Seq[AbstractDataType] = coerceTo
}

/** One row of the engine's SQL function table ([[vps.sql.FunctionTable]]): a
  * name and how the function's expression is built from its arguments.
  */
sealed trait SqlFunction {
  def name: String
  def arity: Int
  protected def make(args: Seq[Expression]): Expression
  final def apply(args: Seq[Expression]): Expression = {
    if (args.length != arity) throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), args.length)
    make(args)
  }
}

/** A stateless scalar function: the static method `method` of the Scala object
  * `owner`, called on Catalyst's internal values (geometry as `AnyRef` holding
  * WKB bytes, `UTF8String`, `ArrayData`, `MapData`, primitives). `args` drive
  * the analyzer's implicit casts; a geometry argument also accepts its binary
  * storage type. `nullable` says whether the kernel itself can return null.
  */
final case class Kernel(name: String, owner: Class[_], method: String, args: Seq[DataType],
    result: DataType, nullable: Boolean = false) extends SqlFunction {
  def arity: Int = args.length
  protected def make(children: Seq[Expression]): Expression = KernelCall(this, children)
}

/** A function that keeps its own expression class (it holds per-task state, an
  * error channel, a parsed constant, or is an aggregate).
  */
final case class Constructor(name: String, arity: Int, build: Seq[Expression] => Expression)
    extends SqlFunction {
  protected def make(args: Seq[Expression]): Expression = build(args)
}

/** A [[Kernel]] applied to its arguments. The optimizer replaces it with a
  * `StaticInvoke` of the kernel (tagged by [[KernelInvoke]]), which generates
  * Java code, so the host stage stays inside whole-stage codegen.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends Expression with RuntimeReplaceable with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = kernel.args.map {
    case udt: UserDefinedType[_] => TypeCollection(udt, udt.sqlType)
    case t => t
  }
  // the analyzed children already carry the cast types; concrete DataTypes
  // (unlike TypeCollection) serialize with the physical plan
  override lazy val replacement: Expression = KernelInvoke(StaticInvoke(kernel.owner, kernel.result,
    kernel.method, children, children.map(_.dataType), propagateNull = true,
    returnNullable = kernel.nullable))
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** A planned kernel call: its `StaticInvoke`, passed through unchanged (eval,
  * codegen, nullability). A bare `StaticInvoke` is null-intolerant, so the
  * optimizer would infer `isnotnull` filters on a kernel's inputs and push
  * them below the projection that computes those inputs, evaluating an input
  * kernel twice per row (the shingle sets ahead of Dedup's `array_jaccard`
  * verify join). The tag stops that inference at the kernel.
  */
case class KernelInvoke(child: Expression) extends UnaryExpression with TaggingExpression {
  override def toString: String = child.toString
  override def sql: String = child.sql
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
