package org.apache.spark.sql.graft.plans

// Hosted inside the org.apache.spark.sql package tree for access to the
// private[sql] Dataset.ofRows constructor — the standard pattern for
// third-party plan nodes.

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Logical: keep the first `k` rows per key group under `order`, each
  * led by its 1-based `rank` within the key (output:
  * `rank +: child.output`).
  *
  * The window-function formulation (`row_number().over(partitionBy…
  * orderBy…) <= k`) sorts every partition in full, before the shuffle
  * (Spark's partial WindowGroupLimit) and again after it — O(n log n)
  * in the partition size. This operator keeps a bounded heap per key
  * instead: O(n log k), and its partial phase also runs before the
  * shuffle, so at most k rows per (key × input partition) cross the
  * exchange. Every key's heap lives in memory at once and cannot spill.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int, rank: Attribute,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = rank +: child.output
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical: bounded per-key heaps in one pass over each partition.
  * `partial = true` runs map-side (no required distribution) and emits
  * ≤ k rows per key per partition; the final instance requires
  * clustering on `keys` (EnsureRequirements inserts the hash exchange)
  * and reduces the survivors to exactly the global per-key top k, each
  * row led by its `rank` (output: `rank +: child.output`).
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int, rank: Attribute,
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = if (partial) child.output else rank +: child.output
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil else ClusteredDistribution(keys) :: Nil
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val orderExprs = order
    val limit = k
    val childOutput = child.output
    val rankedOutput = if (partial) None else Some(output)
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(orderExprs, childOutput)
      // max-heap under ord: head = worst row currently kept for the key
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      while (it.hasNext) {
        val row = it.next()
        // the projection reuses its buffer — look up with the transient
        // key and copy ONLY on first sight of a key (one allocation per
        // key, not per row; rows likewise copy only when they enter a
        // heap, since the scan iterator reuses its row)
        val key = keyProj(row)
        var heap = heaps.getOrElse(key, null)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      // emit best-first within each key (dequeueAll is worst-first)
      val best = heaps.valuesIterator.map(_.dequeueAll.reverseIterator)
      rankedOutput.fold(best.flatten) { attrs =>
        // the final instance leads each row with its 1-based place in its key
        val proj = UnsafeProjection.create(attrs, attrs)
        val rankRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        best.flatMap(_.zipWithIndex.map { case (r, i) =>
          rankRow.setLong(0, i + 1L)
          proj(joined(rankRow, r))
        })
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans TopKPerKey as partial → (exchange via EnsureRequirements) →
  * final, mirroring partial aggregation.
  */
object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, rank, child) =>
      val partial = TopKPerKeyExec(keys, order, k, rank, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, rank, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Builder bridge (private[sql] Dataset.ofRows access).
  *
  * In Spark 4 a `Column` wraps a ColumnNode that only the analyzer can
  * resolve, and it resolves them only in built-in operators — so we
  * piggyback: run the keys through a throwaway `select` and the sort
  * columns through a throwaway `sortWithinPartitions`, then lift the
  * RESOLVED catalyst expressions out of those analyzed plans (exprIds
  * agree because both resolve against the same analyzed child).
  */
object TopKPerKeyBuilder {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
  import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
  import org.apache.spark.sql.types.LongType

  def topKPerKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
                 k: Int): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    // make the strategy available even on sessions built without the
    // GraftExtensions config (idempotent)
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    val keys = df.select(keyCols: _*).queryExecution.analyzed match {
      case Project(projectList, _) =>
        projectList.map { case a: Alias => a.child; case e => e }
      case other => throw new IllegalArgumentException(s"unexpected key plan: $other")
    }
    val order = df.sortWithinPartitions(orderCols: _*).queryExecution.analyzed match {
      case Sort(sortOrder, _, _, _) => sortOrder
      case other => throw new IllegalArgumentException(s"unexpected sort plan: $other")
    }
    val rank = AttributeReference("rank", LongType, nullable = false)()
    Dataset.ofRows(spark, TopKPerKey(keys, order, k, rank, df.queryExecution.analyzed))
  }
}
