package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.plans.{RankedTopKBuilder, TopKPerKeyBuilder}

/** Whole-operator custom plan: top-k rows per key WITHOUT a window sort.
  *
  * `row_number().over(Window.partitionBy(keys).orderBy(order)) <= k`
  * fully sorts each key group post-shuffle. This operator plans as
  * partial-heap → hash exchange → final-heap (see
  * org.apache.spark.sql.graft.plans.TopKPerKeyExec): O(n log k) work,
  * and only ≤ k rows per (key × partition) cross the shuffle. Use it
  * when the rank itself isn't needed — only membership in the top k.
  *
  * {{{
  *   TopK.perKey(lineitems, Seq(col("l_orderkey")),
  *     Seq(col("l_extendedprice").desc), k = 5)
  * }}}
  */
object TopK {
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    TopKPerKeyBuilder.topKPerKey(df, keys, order, k)

  /** Rows `offset+1 … offset+k` of `df` under `order`, led by their
    * absolute 1-based `rank` (LONG): the whole `orderBy.limit` →
    * `row_number` → `rank > offset` → `orderBy("rank")` tail as one
    * operator (org.apache.spark.sql.graft.plans.RankedTopKExec). It
    * adds no Window, Sort or Exchange to the plan, and under a collect
    * no stage: each task keeps its partition's best offset+k rows and
    * the driver ranks them. The result is one partition in rank order.
    *
    * With `select`, the ranked rows are `df.select(select: _*)`, built
    * in the same analysis as the rank: a request's candidate columns
    * and its rank cost one analyzed plan, not two.
    *
    * {{{
    *   TopK.ranked(scored, Seq(col("score").desc, col("id").asc),
    *     offset = 0, k = 10, select = Seq(col("id"), col("score")))
    * }}}
    */
  def ranked(df: DataFrame, order: Seq[Column], offset: Int, k: Int,
             select: Seq[Column] = Nil): DataFrame =
    RankedTopKBuilder.rankedTopK(df, order, offset, k, select)
}
