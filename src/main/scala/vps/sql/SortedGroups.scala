package vps.sql

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference,
  Expression, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vps.ColumnBridge
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** A keyed kernel: called once per key with every row of that key, and
  * returns the rows it makes. Rows are read and written with hand-written
  * field access over Catalyst's internal values (`UTF8String`, `MapData`,
  * microsecond timestamps); the input rows are copies the kernel may keep,
  * and the output rows follow the schema given to [[SortedGroups.apply]].
  * An instance carries the kernel's parameters and is serialized into each
  * task.
  */
trait GroupKernel extends Serializable {
  def apply(group: IndexedSeq[InternalRow]): Iterator[InternalRow]
}

/** The logical node of [[SortedGroups]]: `input` is the child's output,
  * listed so that column pruning keeps every column the kernel reads.
  */
case class SortedGroupsNode(kernel: GroupKernel, keys: Seq[Attribute], input: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): SortedGroupsNode = copy(child = c)
}

/** Runs a [[GroupKernel]] over each run of equal keys of a partition the
  * planner has clustered by the keys. It generates no code: it sorts the
  * partition itself (an external sorter, spilling like a sort operator, with
  * an interpreted key ordering), the kernel reads the sorted rows directly,
  * and an interpreted projection turns its rows into unsafe rows. A sort
  * operator below it would be a whole-stage codegen stage of its own.
  */
case class SortedGroupsExec(kernel: GroupKernel, keys: Seq[Attribute], input: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of keys"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    require(child.output.map(_.exprId) == input.map(_.exprId), s"$nodeName reads its input by position")
    val key = keys.map(k => BindReferences.bindReference[Expression](k, child.output))
    val ordering = new InterpretedOrdering(key.map(SortOrder(_, Ascending)))
    val schema = DataTypeUtils.fromAttributes(child.output)
    val fields = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val (groups, rowsOut, spill) = (longMetric("numGroups"), longMetric("numOutputRows"), longMetric("spillSize"))
    val run = kernel // the task closure holds the kernel, not this plan
    child.execute().mapPartitions({ rows =>
      val sorter = UnsafeExternalRowSorter.create(schema, ordering, PrefixComparators.LONG,
        SortedGroups.prefix(key.head), SparkEnv.get.memoryManager.pageSizeBytes, false)
      val spilled = TaskContext.get().taskMetrics().memoryBytesSpilled
      val sorted = sorter.sort(rows.asInstanceOf[Iterator[UnsafeRow]]).buffered
      spill += TaskContext.get().taskMetrics().memoryBytesSpilled - spilled
      val toUnsafe = InterpretedUnsafeProjection.createProjection(fields)
      def sameKey(a: InternalRow, b: InternalRow) = key.forall(k => k.eval(a) == k.eval(b))
      Iterator.continually(sorted).takeWhile(_.hasNext).flatMap { it =>
        val group = ArrayBuffer(it.next().copy())
        while (it.hasNext && sameKey(it.head, group.head)) group += it.next().copy()
        groups += 1
        run(group.toIndexedSeq)
      }.map { r => rowsOut += 1; toUnsafe(r) }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(c: SparkPlan): SortedGroupsExec = copy(child = c)
}

/** One thin physical node that calls a [[GroupKernel]] once per key over a
  * partition sorted by that key. It replaces a typed `groupByKey`/`cogroup`
  * and its object conversion: a kernel that takes several inputs reads them
  * from one frame, one struct column per input (null but for the row's
  * own), so their rows meet behind one exchange.
  */
object SortedGroups {
  /** `kernel` over `df` grouped by the columns `keys`; its rows have `schema`. */
  def apply(df: DataFrame, keys: Seq[String], schema: StructType, kernel: GroupKernel): DataFrame = {
    val spark = df.sparkSession
    setup(spark)
    val child = df.queryExecution.analyzed
    val key = keys.map(k => child.output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in ${child.output.mkString(", ")}")))
    ColumnBridge.frame(spark, SortedGroupsNode(kernel, key, child.output, DataTypeUtils.toAttributes(schema), child))
  }

  /** The sort prefix: the first key if it is an integer or a long (a constant
    * otherwise, leaving the order to the full comparison).
    */
  private[sql] def prefix(first: Expression): UnsafeExternalRowSorter.PrefixComputer =
    new UnsafeExternalRowSorter.PrefixComputer {
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val v = first.eval(row)
        p.isNull = v == null
        p.value = v match {
          case l: Long => l
          case i: Int => i.toLong
          case _ => Long.MinValue
        }
        p
      }
    }

  /** Plans [[SortedGroupsNode]] and nothing else. */
  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case SortedGroupsNode(kernel, keys, input, output, child) =>
        SortedGroupsExec(kernel, keys, input, output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Planner]] to the session's extra strategies once; no conf changes. */
  def setup(spark: SparkSession): Unit = {
    val experimental = spark.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(Planner))
        experimental.extraStrategies = Planner +: experimental.extraStrategies
    }
  }
}
