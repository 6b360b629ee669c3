package org.apache.spark.sql.graft.plans

// Hosted inside the org.apache.spark.sql package tree, like TopKPerKey:
// Dataset.ofRows, RDD.mapPartitionsInternal and the bounded-selection
// helper are private to Spark's packages.

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{ShuffledRowRDD, SparkPlan, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.{Utils => CollectionUtils}

/** Logical: rows `offset+1 … offset+k` of `child` under `order`, each
  * led by its absolute 1-based `rank` (output: `rank +: child.output`).
  *
  * The DataFrame formulation — `orderBy.limit(offset+k)`, then
  * `row_number()` over `partitionBy(lit(0))`, a `rank > offset` filter
  * and `orderBy("rank")` — plans a TakeOrderedAndProject that merges
  * through its own single-partition shuffle, then a Window with its
  * Sort, then a final Sort: two stages and a shuffle to rank at most
  * offset+k rows. This node keeps a bounded top-(offset+k) per input
  * partition and ranks the survivors in one merge (REPOSE's
  * partition-local top-k), so the ranked tail is one operator.
  */
case class RankedTopK(order: Seq[SortOrder], offset: Int, k: Int, rank: Attribute,
                      child: LogicalPlan) extends UnaryNode {
  require(offset >= 0 && k >= 0, s"offset and k must be non-negative, got $offset, $k")
  // the exec keeps offset + k rows, counted in an Int
  require(offset.toLong + k <= Int.MaxValue,
    s"offset + k must not exceed ${Int.MaxValue}, got $offset + $k")
  override def output: Seq[Attribute] = rank +: child.output
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override def maxRows: Option[Long] = Some(k.toLong)
  // at most k rows, estimated as a Limit is: the default estimate is the
  // child's whole size, and a join above then re-shuffles this one
  // small partition (spark.sql.maxSinglePartitionBytes)
  override def stats: Statistics = {
    val rows = child.stats.rowCount.fold(BigInt(k))(_.min(k))
    Statistics(EstimationUtils.getOutputSize(output, rows), Some(rows))
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): RankedTopK =
    copy(child = newChild)
}

/** Physical [[RankedTopK]], with the `projectList` of an absorbed
  * `Project` above it applied to each ranked row.
  *
  * `executeCollect` runs one job of one stage: each task keeps its
  * partition's best offset+k rows, and the driver merges and ranks
  * them. It submits the job through `SparkContext.runJob` with the
  * named task function [[RankedTopKExec.PartitionRows]], not through
  * the RDD's own collect. `execute` (any consumer other than a
  * collect) merges a multi-partition input through an internal
  * single-partition shuffle, as TakeOrderedAndProjectExec does, so the
  * plan carries no Exchange node either way. The output is one
  * partition, ordered by `rank`.
  */
case class RankedTopKExec(order: Seq[SortOrder], offset: Int, k: Int, rank: Attribute,
                          projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    if (output.exists(_.semanticEquals(rank))) SortOrder(rank, Ascending) :: Nil else Nil

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = readMetrics ++ writeMetrics

  /** Each partition's best offset+k rows, copied (the scan reuses its row). */
  private def partitionTopK(rows: RDD[InternalRow],
                            ord: Ordering[InternalRow]): RDD[InternalRow] = {
    val n = offset + k
    rows.mapPartitionsInternal(it => CollectionUtils.takeOrdered(it.map(_.copy()), n)(ord))
  }

  /** The best offset+k of the merged candidates, offset prefix dropped,
    * each row projected with its absolute rank. Rows reuse one buffer.
    */
  private def ranked(ord: Ordering[InternalRow]): Iterator[InternalRow] => Iterator[InternalRow] = {
    val (from, n, exprs, input) = (offset, offset + k, projectList, rank +: child.output)
    rows => {
      val proj = UnsafeProjection.create(exprs, input)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      CollectionUtils.takeOrdered(rows, n)(ord).zipWithIndex.drop(from).map { case (r, i) =>
        rankRow.setLong(0, i + 1L)
        proj(joined(rankRow, r))
      }
    }
  }

  override def executeCollect(): Array[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(order, child.output)
    val parts = sparkContext.runJob(partitionTopK(child.execute(), ord), RankedTopKExec.PartitionRows)
    ranked(ord)(parts.iterator.flatMap(_.iterator)).map(_.copy()).toArray
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(order, child.output)
    val rows = child.execute()
    // one input partition needs no merge shuffle (as in
    // TakeOrderedAndProjectExec)
    val merged = if (rows.getNumPartitions == 1) rows else new ShuffledRowRDD(
      ShuffleExchangeExec.prepareShuffleDependency(partitionTopK(rows, ord), child.output,
        SinglePartition, new UnsafeRowSerializer(child.output.size), writeMetrics),
      readMetrics)
    val rankRows = ranked(ord)
    merged.mapPartitionsInternal(it => rankRows(it.map(_.copy())))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankedTopKExec =
    copy(child = newChild)
}

object RankedTopKExec {
  /** A partition's rows as an array: the collect's task function. An
    * RDD's own collect hands `runJob` a lambda, and `ClosureCleaner`
    * reads each lambda's capturing class (`RDD`, then `SparkContext`)
    * back from its jar and scans every method of it, twice per request.
    * A named stateless object is no closure, so the cleaner returns at
    * once; the scheduler still serializes it with the task.
    */
  private[plans] object PartitionRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.toArray
  }
}

/** Plans [[RankedTopK]] as one [[RankedTopKExec]], folding a `Project`
  * directly above it into the exec.
  */
object RankedTopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projectList, t: RankedTopK) =>
      RankedTopKExec(t.order, t.offset, t.k, t.rank, projectList, planLater(t.child)) :: Nil
    case t: RankedTopK =>
      RankedTopKExec(t.order, t.offset, t.k, t.rank, t.output, planLater(t.child)) :: Nil
    case _ => Nil
  }
}

/** Builder bridge: wraps `df` (or its `select` columns) in a
  * [[RankedTopK]] and analyzes the whole in one pass, the order
  * resolving against the ranked columns. A column pick directly below
  * the `select` (such as a filtered read's schema-order `select`) is
  * bound through, so the analyzed plan holds one `Project`.
  */
object RankedTopKBuilder {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.catalyst.QueryPlanningTracker
  import org.apache.spark.sql.catalyst.expressions.RowOrdering
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
  import org.apache.spark.sql.graft.ColumnBridge

  def rankedTopK(df: DataFrame, orderCols: Seq[Column], offset: Int, k: Int,
                 select: Seq[Column]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    // sessions built without the GraftExtensions config plan it too
    // (idempotent)
    if (!spark.experimental.extraStrategies.contains(RankedTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RankedTopKStrategy
    val input = df.queryExecution.analyzed
    val child = if (select.isEmpty) input else Project(select.map(ColumnBridge.named(spark, _)), input)
    val order = orderCols.map(c => spark.expression(c) match {
      case o: SortOrder => o
      case e => SortOrder(e, Ascending)
    })
    val rank = AttributeReference("rank", LongType, nullable = false)()
    // one tracker: the analysis is recorded on the Dataset's own plan
    val tracker = new QueryPlanningTracker
    val analyzed = new QueryExecution(spark, RankedTopK(order, offset, k, rank, child), tracker).analyzed
    val plan = analyzed match {
      case t @ RankedTopK(_, _, _, _, Project(cols, Project(pick, in)))
          if pick.forall(_.isInstanceOf[Attribute]) =>
        // the picked attributes are `in`'s own: the outer columns read
        // them there unchanged
        val bound = t.copy(child = Project(cols, in))
        bound.setAnalyzed()
        bound
      case t: RankedTopK => t
      case other => throw new IllegalArgumentException(s"unexpected ranked plan: $other")
    }
    plan.order.foreach(o => require(RowOrdering.isOrderable(o.dataType),
      s"cannot rank by ${o.child.sql} of type ${o.dataType.catalogString}"))
    Dataset.ofRows(spark, plan, tracker)
  }
}
