package graft

import graft.api.PlanAudit
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec

/** PlanAudit as CI over the WHOLE inventory (VERDICT r5 #7): every
  * `SparkEntry.queries` plan must pass the runtime lint — no
  * CartesianProduct anywhere in the executed plan (the classic silent
  * scale-killer: a missing join key quietly works at test SF and
  * explodes at 100 TB) and a per-query shuffle budget — so a new
  * operator cannot land with a scale-killer plan even before a human
  * reads it, and no plan may rank with a `row_number` window over a
  * literal partition key (`TopK.ranked` is the rank tail). The budgets
  * encode each family's audited shape (how many exchanges the plan is
  * SUPPOSED to have); a refactor that silently adds a shuffle fails
  * here first, at sf0.001, not at 100 TB.
  */
class PlanAuditSweepSpec extends SparkSpecBase {

  /** The intentionally-blocked all-pairs baseline (`dedup_embedding`,
    * whose sub-quadratic twin is `dedup_embedding_lsh`):
    * broadcast-nested-loop at test scale, but a cartesian on two large
    * sides by design.
    */
  private val exempt = Set("dedup_embedding")

  // Default budgets: most plans are a handful of keyed exchanges plus
  // an output sort. Queries above the default are listed explicitly
  // AT THEIR OBSERVED COUNT — the list IS the review artifact (a query
  // joining it, or a refactor adding even ONE real exchange to a
  // listed query, needs a justified entry edit, not a budget bump).
  // Counts were snapshotted from a diagnostic sweep
  // (GRAFT_PLAN_SWEEP_DIAG=1).
  //
  // r14 RE-BASELINE (VERDICT r13 #3): PlanAudit now counts
  // ShuffleExchangeExec nodes in the EXECUTED plan tree — a cached
  // artifact's build subtree counts ONCE per distinct cache (it runs
  // at most once), a ReusedExchange counts zero — instead of grepping
  // the plan TEXT, which re-printed every InMemoryRelation reference's
  // lineage and had inflated dedup_recall_eval's budget to 498 against
  // 20 exchanges of real movement. Budgets are executed-movement truth
  // again and the margins are gone: one added real exchange on a
  // listed query FAILS this spec.
  private val defaultShuffles = 6
  private val defaultSingles = 3
  private val shuffleBudget: Map[String, Int] = Map(
    // exact-truth eval: minhash+simhash+embedding tiers' artifacts,
    // each BUILD counted once, plus the per-tier verify/report joins
    "dedup_recall_eval" -> 20,
    // partition-plan advisors aggregate per-key stats several ways
    "keys_partition_plan" -> 18, "keys_skew_audit" -> 18,
    // leak-audit split: pair artifact + component closure + audit joins
    "docs_split_by_cluster" -> 13,
    // importance weights + stratified resample
    "docs_dsir_sample" -> 10,
    // signature histogram over the pHash artifact
    "mm_phash_hamming_hist" -> 10,
    // per-source attribution / divergence over the pair artifact
    "docs_dup_rate_by_source" -> 9, "docs_jsd_drift" -> 9,
    // ranked mine + support/lift joins over the memoized pair relation
    "orders_basket_lift" -> 9,
    // winnowing fingerprints + pair agg + top-k
    "text_doc_sim_topk" -> 9,
    // the other leak-audit split + contamination/overlap attributions
    "docs_train_val_split" -> 8, "docs_contamination_by_source" -> 8,
    "events_user_overlap" -> 8,
    // incremental dedup joins old+new signature artifacts
    "dedup_incremental" -> 7, "dedup_simhash" -> 7,
    "text_dup_ngrams" -> 7, "vs_sparse_search" -> 7
  ).withDefaultValue(defaultShuffles)
  private val singleBudget: Map[String, Int] = Map(
    // one-row scalar stats (corpus totals/bounds) enter as
    // SinglePartition exchanges by design — bounded aggregates only
    "keys_partition_plan" -> 9, "keys_skew_audit" -> 9,
    "docs_dsir_sample" -> 5
  ).withDefaultValue(defaultSingles)

  /** `row_number` windows over an all-literal (or empty) partition key
    * in the executed plan, walked like PlanAudit's movement count
    * (through AQE, query stages and each cached subtree). That is a
    * hand-built rank of a k-row final; `graft.plans.TopK.ranked` is the
    * one rank tail. Literal-key running sums and totals stay allowed:
    * they compute no `row_number`.
    */
  private def literalRankWindows(root: SparkPlan): Int = {
    val seenCaches = scala.collection.mutable.Set.empty[Int]
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case t: InMemoryTableScanExec =>
        if (seenCaches.add(System.identityHashCode(t.relation.cacheBuilder)))
          walk(t.relation.cacheBuilder.cachedPlan)
        else 0
      case w: WindowExec =>
        val rank = w.partitionSpec.forall(_.foldable) &&
          w.windowExpression.exists(_.exists(_.isInstanceOf[RowNumber]))
        (if (rank) 1 else 0) + walk(w.child)
      case other => other.children.map(walk).sum
    }
    walk(root)
  }

  test("every inventory plan passes the PlanAudit lint under its family budget") {
    val diag = sys.env.contains("GRAFT_PLAN_SWEEP_DIAG")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => exempt(n) }
      .flatMap { case (name, fn) =>
        val df = fn(spark, sf)
        val fs = PlanAudit.findings(df,
          maxShuffles = shuffleBudget(name),
          maxSinglePartition = singleBudget(name))
        if (diag) info(s"$name: " + fs.map(f => s"${f.check}(${f.detail})").mkString(" "))
        val rankWindows = literalRankWindows(df.queryExecution.executedPlan)
        val bad = fs.filterNot(_.ok).map(f => s"${f.check} ${f.detail}") ++
          (if (rankWindows > 0) Seq(s"literal_rank_window n=$rankWindows") else Nil)
        if (bad.isEmpty) None else Some(s"$name: " + bad.mkString("; "))
      }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
