package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Runtime PLAN LINT — the operational form of the repo's
  * plan-invariant specs, exposed as a library call so a
  * deployment can gate its OWN queries the way this repo gates its
  * inventory ("would this plan survive 100×?" asked of the plan, not
  * the wall clock). `audit(df)` inspects the query's physical plan
  * WITHOUT executing it and returns one row per check:
  *
  *  - `cartesian_product` (FAIL when present): the classic silent
  *    scale-killer — a missing join key works at test SF and explodes
  *    at 100 TB.
  *  - `shuffle_exchanges` (FAIL past `maxShuffles`): every exchange is
  *    a full data movement; a plan that shuffles eight times usually
  *    lost a partitioning it could have reused.
  *  - `single_partition_exchange` (FAIL past `maxSinglePartition`):
  *    all-to-one-task funnels (unpartitioned windows/global
  *    aggregations over unbounded inputs). Bounded-row finals (a
  *    k-row rank window) legitimately use one — hence a budget, not a
  *    ban.
  *  - `broadcast_exchanges` (info): how many relations ride to every
  *    executor; each must be driver-resident-small.
  *  - `codegen_spans` (info): WholeStageCodegen region count — wide
  *    spans mean the hot path stays fused.
  *  - `parquet_scans` (info): scan count, how many carry pushed
  *    filters, how many read a pruned column subset.
  *
  * The budgeted counts (cartesian, shuffle and single-partition
  * exchanges, broadcasts) walk the executed exec nodes, descending
  * through AQE wrappers and query stages and into each cached subtree
  * once. The info rows (codegen spans, scan metadata) read the
  * FORMATTED explain text, where PushedFilters/ReadSchema are not
  * length-truncated. Purely driver-side; never touches data.
  * (The human-eyeball twin that DUMPS the plans is the
  * [[graft.PlanAudit]] CLI.)
  */
object PlanAudit {

  /** One lint row. `ok = false` means the plan violates the budgeted
    * scale contract and should not ship to the large cluster as-is.
    */
  case class Finding(check: String, detail: String, ok: Boolean)

  /** EXECUTED data movement, counted on the physical tree (r14,
    * VERDICT r13 #3): the former text counter re-printed a cached
    * artifact's build lineage at EVERY InMemoryRelation reference, so
    * budgets inflated with zero executed movement and each re-baseline
    * eroded the audit's power. Here a cached subtree is walked ONCE per
    * distinct cache builder (the build runs at most once), a
    * ReusedExchange counts zero (it borrows another exchange's output),
    * and an AQE wrapper / materialized query stage is descended through
    * — the count is what actually MOVES.
    */
  private def movement(root: SparkPlan): (Int, Int, Int, Int) = {
    val seenCaches = scala.collection.mutable.Set.empty[Int]
    var (cartesian, keyed, single, bcast) = (0, 0, 0, 0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => () // borrowed output — no new movement
      case s: ShuffleExchangeExec =>
        if (s.outputPartitioning == SinglePartition) single += 1 else keyed += 1
        s.children.foreach(walk)
      case b: BroadcastExchangeExec => bcast += 1; b.children.foreach(walk)
      case c: CartesianProductExec => cartesian += 1; c.children.foreach(walk)
      case t: InMemoryTableScanExec =>
        val id = System.identityHashCode(t.relation.cacheBuilder)
        if (seenCaches.add(id)) walk(t.relation.cacheBuilder.cachedPlan)
      case other => other.children.foreach(walk)
    }
    walk(root)
    (cartesian, keyed, single, bcast)
  }

  def findings(df: DataFrame, maxShuffles: Int = 6,
               maxSinglePartition: Int = 1): Seq[Finding] = {
    // movement counts walk the physical tree (cached subtrees once);
    // scan metadata reads FORMATTED mode, where PushedFilters/
    // ReadSchema are not length-truncated
    val fmt = df.queryExecution.explainString(FormattedMode)
    val (cartesian, exchanges, singles, bcast) =
      movement(df.queryExecution.executedPlan)
    // formatted mode tags each fused operator with "[codegen id : N]";
    // distinct ids = span count (0 for a pre-execution AQE wrapper,
    // which omits codegen tags — an info metric, not a gate)
    val codegen = "\\[codegen id : (\\d+)\\]".r
      .findAllMatchIn(fmt).map(_.group(1)).toSet.size
    // each operator prints twice in formatted mode (tree line "Scan
    // parquet ... (N)" + detail header "(N) Scan parquet"); count only
    // the detail headers — the same convention PlanInvariantsSpec's
    // exchange counter uses
    val scanLines = "\\(\\d+\\) Scan parquet".r.findAllIn(fmt).size
    val pushed = fmt.linesIterator.count { l =>
      val i = l.indexOf("PushedFilters: [")
      val j = i + "PushedFilters: [".length
      // j < length guard: a wrapped/truncated explain line can end
      // exactly at the '[' — treat as no pushed filters, don't throw
      i >= 0 && j < l.length && l.charAt(j) != ']'
    }
    // a pruned scan reads a strict column subset; ReadSchema prints a
    // struct<...> whose fields may NEST (array<...>, map<k,v>) — count
    // top-level commas only, tracking <> depth
    val readSchemas = fmt.linesIterator.flatMap { l =>
      val i = l.indexOf("ReadSchema: struct<")
      if (i < 0) None else {
        var (depth, fields, j) = (0, 0, i + "ReadSchema: struct<".length)
        var nonEmpty = false
        var done = false
        while (j < l.length && !done) {
          l.charAt(j) match {
            case '<' => depth += 1
            case '>' if depth > 0 => depth -= 1
            case '>' => done = true // closes the outer struct<
            case ',' if depth == 0 => fields += 1
            case c if !done && !c.isWhitespace => nonEmpty = true
            case _ =>
          }
          j += 1
        }
        Some(if (nonEmpty) fields + 1 else 0)
      }
    }.toSeq
    Seq(
      Finding("cartesian_product", s"n=$cartesian", cartesian == 0),
      Finding("shuffle_exchanges", s"n=$exchanges budget=$maxShuffles",
        exchanges <= maxShuffles),
      Finding("single_partition_exchange",
        s"n=$singles budget=$maxSinglePartition", singles <= maxSinglePartition),
      Finding("broadcast_exchanges", s"n=$bcast", ok = true),
      Finding("codegen_spans", s"n=$codegen", ok = true),
      Finding("parquet_scans",
        s"n=$scanLines pushed_filters=$pushed read_cols=" +
          readSchemas.mkString("[", ",", "]"),
        ok = true))
  }

  /** The lint as data: (check, detail, ok) rows, `passed` = every
    * budgeted check ok.
    */
  def audit(df: DataFrame, maxShuffles: Int = 6,
            maxSinglePartition: Int = 1): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    findings(df, maxShuffles, maxSinglePartition).toDF()
  }

  /** True iff no budgeted check fails — the boolean a CI gate wants. */
  def passes(df: DataFrame, maxShuffles: Int = 6,
             maxSinglePartition: Int = 1): Boolean =
    findings(df, maxShuffles, maxSinglePartition).forall(_.ok)
}
