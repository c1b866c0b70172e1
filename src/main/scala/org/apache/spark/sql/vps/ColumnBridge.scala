package org.apache.spark.sql.vps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, TaggingExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, NullType, ObjectType, TypeCollection, UserDefinedType}

/** Spark 4 made Column<->Expression conversion `private[sql]`; this shim (in an
  * org.apache.spark.sql subpackage) re-exposes it for our expression wrappers.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The DataFrame of an analyzed logical plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** One row of the engine's SQL function table ([[vps.sql.FunctionTable]]): a
  * name and how the function's expression is built from its arguments.
  */
sealed trait SqlFunction {
  def name: String
  def arity: Int
  protected def make(args: Seq[Expression]): Expression
  final def apply(args: Seq[Expression]): Expression = make(checked(args))
  protected final def checked(args: Seq[Expression]): Seq[Expression] = {
    if (args.length != arity) throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), args.length)
    args
  }
}

/** A scalar function run by a kernel method over Catalyst's internal values
  * (geometry as `AnyRef` holding WKB bytes, `UTF8String`, `ArrayData`,
  * `MapData`, primitives). `args` drive the analyzer's implicit casts; a
  * geometry argument also accepts its binary storage type, and
  * `ArrayType(NullType)` accepts any array. `nullable` says whether the kernel
  * itself can return null.
  */
sealed trait KernelRow extends SqlFunction {
  def args: Seq[DataType]
  final def arity: Int = args.length
  protected def make(children: Seq[Expression]): Expression = KernelCall(this, children)
}

/** A stateless function: the static method `method` of the Scala object `owner`. */
final case class Kernel(name: String, owner: Class[_], method: String, args: Seq[DataType],
    result: DataType, nullable: Boolean = false) extends KernelRow

/** A function with per-call state (an error channel, a clip timeout, a parsed
  * constant, a cache, a reusable probe point): the method `method` of a state
  * instance. `state` builds the instance from the analyzed arguments when the
  * call is planned, so it can read a foldable argument; a Column API with
  * extra parameters passes its own instance instead. The instance is
  * serializable and reaches the plan as an object literal, so each task works
  * on its own deserialized copy and codegen keeps it out of the generated
  * source. `result` maps the analyzed argument types to the result type;
  * `nullArgs` hands null arguments to the kernel instead of returning null.
  */
final case class StateKernel(name: String, method: String, args: Seq[DataType],
    result: Seq[DataType] => DataType, state: Seq[Expression] => AnyRef,
    nullable: Boolean = false, nullArgs: Boolean = false) extends KernelRow {
  /** This row applied to `args` with a Column API's own state instance. */
  def apply(args: Seq[Expression], state: AnyRef): Expression = KernelCall(this, checked(args), Some(state))
}

/** An aggregate function, built by `build` (`Constructor` rows are aggregates only). */
final case class Constructor(name: String, arity: Int, build: Seq[Expression] => Expression)
    extends SqlFunction {
  protected def make(args: Seq[Expression]): Expression = build(args)
}

/** A [[KernelRow]] applied to its arguments, with the state instance a Column
  * API passed (None: the row builds it). The optimizer replaces it with a
  * `StaticInvoke` of a [[Kernel]] or an `Invoke` on the state literal of a
  * [[StateKernel]] (tagged by [[KernelInvoke]]); both generate Java code, so
  * the host stage stays inside whole-stage codegen.
  */
case class KernelCall(kernel: KernelRow, children: Seq[Expression], state: Option[AnyRef] = None)
    extends Expression with RuntimeReplaceable with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = kernel.args.map {
    case udt: UserDefinedType[_] => TypeCollection(udt, udt.sqlType)
    case ArrayType(NullType, _) => ArrayType
    case t => t
  }
  // the analyzed children already carry the cast types; concrete DataTypes
  // (unlike TypeCollection) serialize with the physical plan
  override lazy val replacement: Expression = {
    val types = children.map(_.dataType)
    KernelInvoke(kernel match {
      case k: Kernel => StaticInvoke(k.owner, k.result, k.method, children, types,
        propagateNull = true, returnNullable = k.nullable)
      case k: StateKernel =>
        val target = state.getOrElse(k.state(children))
        Invoke(Literal(target, ObjectType(target.getClass)), k.method, k.result(types), children, types,
          propagateNull = !k.nullArgs, returnNullable = k.nullable)
    })
  }
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
