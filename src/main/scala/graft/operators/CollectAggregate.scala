package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences,
  EmptyRow, InterpretedMutableProjection, InterpretedUnsafeProjection, JoinedRow,
  NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.sources.GraftParquetTable

/** Plans a global aggregate (no grouping keys) over a Graft scan — a
  * [[ChunkScan]] or a DSv2 scan of a [[GraftParquetTable]] — as a
  * [[CollectAggregateExec]] when every function is a [[DeclarativeAggregate]]
  * without DISTINCT or FILTER. The partial side is Spark's own
  * (`AggUtils.planAggregateWithoutDistinct`); only the final merge moves.
  * Grouped, DISTINCT, FILTER and imperative aggregates keep Spark's plan. */
object CollectAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(Seq(), aggs, results, child)
        if aggs.forall(a => !a.isDistinct && a.filter.isEmpty &&
          a.aggregateFunction.isInstanceOf[DeclarativeAggregate]) &&
          child.exists(isGraftScan) =>
      AggUtils.planAggregateWithoutDistinct(Nil, aggs, results, planLater(child)).map {
        case f: BaseAggregateExec =>
          CollectAggregateExec(f.aggregateExpressions, f.aggregateAttributes,
            f.resultExpressions, f.child)
      }
    case _ => Nil
  }

  private def isGraftScan(p: LogicalPlan): Boolean = p match {
    case _: ChunkScan => true
    case r: DataSourceV2ScanRelation => r.relation.table.isInstanceOf[GraftParquetTable]
    case _ => false
  }
}

/** The Graft planner strategies, added to a session once (Pathling's
  * `SqlStrategy.setup` pattern): chunk reads call it, and so does the
  * Parquet format when Spark resolves a table. */
object GraftStrategies {
  private val all = Seq(CollectAggregateStrategy, ChunkScanStrategy)

  def install(spark: SparkSession): Unit = synchronized {
    val s = spark.experimental
    val missing = all.filterNot(s.extraStrategies.contains)
    if (missing.nonEmpty) s.extraStrategies = missing ++ s.extraStrategies
  }
}

/** A global aggregate whose final merge runs on the driver when it is
  * collected. `child` is Spark's partial aggregate, which outputs one
  * buffer row per task; `executeCollect` runs it as the query's only stage
  * and folds those rows with the functions' own `initialValues`,
  * `mergeExpressions` and `evaluateExpression`, then `resultExpressions`,
  * so values, nulls, decimal precision and ANSI overflow errors are
  * Spark's. There is no exchange: where Spark's plan shuffles one row per
  * task to a single reduce task, this plan sends it with the task result,
  * as `CollectLimitExec` does for a collected `LIMIT`. When another
  * operator consumes the aggregate, `doExecute` merges in a second stage.
  *
  * @param aggregateExpressions the functions, in final mode
  * @param aggregateAttributes their results, as `resultExpressions` sees them */
final case class CollectAggregateExec(aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute], resultExpressions: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def producedAttributes: AttributeSet = AttributeSet(aggregateAttributes)

  override def simpleString(maxFields: Int): String =
    s"CollectAggregateExec ${aggregateExpressions.mkString("[", ", ", "]")}"

  override def executeCollect(): Array[InternalRow] =
    Array(merge(child.executeCollect().iterator))

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else executeCollect()

  override protected def doExecute(): RDD[InternalRow] = {
    val fold = merge
    child.execute().map(_.copy()).coalesce(1, shuffle = true)
      .mapPartitions(rows => Iterator.single(fold(rows)))
  }

  /** The function folding partial rows into the result row. A handful of
    * rows per query, so interpreted projections: no code to generate. */
  private def merge: Iterator[InternalRow] => InternalRow = {
    val funcs = aggregateExpressions.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffers = funcs.flatMap(_.aggBufferAttributes)
    val (inputs, aggs, results) = (child.output, aggregateAttributes, resultExpressions)
    rows => {
      val buffer = new SpecificInternalRow(buffers.map(_.dataType))
      InterpretedMutableProjection.createProjection(funcs.flatMap(_.initialValues))
        .target(buffer)(EmptyRow)
      val update = InterpretedMutableProjection.createProjection(
        BindReferences.bindReferences(funcs.flatMap(_.mergeExpressions), buffers ++ inputs))
        .target(buffer)
      val joined = new JoinedRow
      rows.foreach(r => update(joined(buffer, r)))
      val evaluated = InterpretedMutableProjection.createProjection(
        BindReferences.bindReferences(funcs.map(_.evaluateExpression), buffers))(buffer)
      val result = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(results, aggs))
      result.initialize(0)
      result(evaluated).copy()
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CollectAggregateExec =
    copy(child = newChild)
}
