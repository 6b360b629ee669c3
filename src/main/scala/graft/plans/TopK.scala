package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.plans.{RankedTopKBuilder, TopKPerKeyBuilder}

/** Whole-operator custom plans for the two top-k shapes: the best k
  * rows per key ([[perKey]]) and the best k rows overall ([[ranked]]).
  */
object TopK {
  /** The first `k` rows of each `keys` group under `order`, each led by
    * its 1-based `rank` within the key (LONG, not null; output:
    * `rank +: df.columns`): `row_number().over(Window.partitionBy(keys)
    * .orderBy(order))` filtered to `<= k`, without the window's sort.
    * It plans as partial heap → hash exchange → final heap
    * (org.apache.spark.sql.graft.plans.TopKPerKeyExec): O(n log k) work,
    * and at most k rows per (key × partition) cross the shuffle. Ranks
    * are `row_number`'s only when `order` is total within a key, ending
    * in a unique column.
    *
    * Use it when the number of keys is bounded: a broadcast query set,
    * a sample, a low-cardinality payload column. The final heap keeps
    * every key of its partition in memory and cannot spill, so a key
    * that grows with the corpus (a point, document, cluster or token id,
    * a text hash) stays on Spark's window, which sorts and spills.
    *
    * {{{
    *   TopK.perKey(scored, Seq(col("query_id")),
    *     Seq(col("cs").desc, col("vec_id").asc), k = 10)
    * }}}
    */
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
