package graft

/** Plan-SHAPE regressions for named queries. The whole-inventory
  * guards (no CartesianProduct, per-family shuffle budgets) live in
  * PlanAuditSweepSpec.
  */
class PlanInvariantsSpec extends SparkSpecBase {

  // formatted mode: executedPlan.toString truncates scan metadata
  // (spark.sql.maxMetadataStringLength = 100), silently hiding long
  // pushed-filter lists from the assertions below
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  // formatted-plan operator headers of a k-row cut: a TakeOrdered or
  // the RankedTopK rank operator
  private def kRowCuts(p: String): Int =
    """\(\d+\) (TakeOrderedAndProject|RankedTopK)""".r.findAllIn(p).size

  // the executed plan's global sorts and windows, by node name: a
  // ranked k-row final built on TopK.ranked holds neither
  private def sortsAndWindows(name: String): Seq[String] = {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    new AdaptiveSparkPlanHelper {}.collect(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan) {
      case p: SortExec if p.global => p.nodeName
      case p: WindowExec => p.nodeName
    }
  }

  // whether a per-key top-k cuts its rows before the shuffle: a final
  // TopKPerKeyExec over a hash exchange on its keys, fed by the partial
  // TopKPerKeyExec with the same keys
  private def perKeyCutBelowExchange(name: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graft.plans.TopKPerKeyExec
    new AdaptiveSparkPlanHelper {}.collect(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan) {
      case TopKPerKeyExec(keys, _, _, _, false,
          ShuffleExchangeExec(h: HashPartitioning, p: TopKPerKeyExec, _, _)) =>
        p.partial && p.keys == keys && h.expressions == keys
    }.contains(true)
  }

  // Plan-SHAPE regressions: these are the scale properties §5.1 claims.
  // A refactor that silently loses one (filter stops reaching the scan,
  // rank limit moves above the exchange, a dim join degrades to
  // sort-merge) still passes every value test at sf0.001 — only the
  // plan text catches it before 100 TB does.

  test("q1 ships its date filter to the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"),
      s"no pushed l_shipdate filter in:\n$p")
  }

  test("funnel stage filters reach the events scan") {
    val p = plan("events_funnel")
    assert(p.contains("EqualTo(event_type,view)"), s"no pushed stage filter in:\n$p")
  }

  test("q5 star join broadcasts every dimension (no sort-merge join at dim scale)") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("batched vector search limits per-query candidates before the exchange") {
    assert(perKeyCutBelowExchange("vs_search_batch"),
      s"rank limit not pushed below shuffle:\n${plan("vs_search_batch")}")
  }

  /** Shuffle-exchange count in a FORMATTED plan: count the `(n) Exchange`
    * detail headers only (each operator prints twice — tree and detail —
    * and BroadcastExchange must not count as a shuffle).
    */
  private def nShuffles(p: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(p).size

  test("bm25 never shuffles the corpus (one scalar-stats exchange, top-k as TakeOrdered)") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nShuffles(p) <= 2, s"${nShuffles(p)} shuffles in bm25 plan:\n$p")
  }

  test("topk_per_group_fast plans the custom heap operator") {
    assert(plan("topk_per_group_fast").contains("TopKPerKey"))
  }

  test("q7/q8/q10 star joins stay all-broadcast with pushed scan filters") {
    for (q <- Seq("q7_nation_volume", "q8_market_share", "q10_returned_items")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q dimension join degraded to SMJ:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast joins:\n$p")
    }
    assert(plan("q7_nation_volume").contains("In(n_name"),
      "nation IN-list no longer reaches the nation scan")
  }

  test("q18 aggregates lineitem BEFORE joining back to orders") {
    // the heavy groupBy must run on the raw scan side, not after a join
    val p = plan("q18_large_orders")
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && aggIdx > joinIdx,
      s"expected join above (consuming) the aggregate in:\n$p") // tree prints top-down
  }

  test("q19 pushes the brand/size and quantity disjunction arms into both scans") {
    val p = plan("q19_disjunctive")
    assert(p.contains("EqualTo(p_brand,Brand#12)"), s"brand arm not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), s"quantity bound not pushed:\n$p")
  }

  test("q22 idleness probe is a broadcast anti join on the date-filtered orders side") {
    val p = plan("q22_idle_balance")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,2000-09-01"),
      s"recency bound not pushed to the orders scan:\n$p")
  }

  test("pii redact is map-side only (sole exchange is the verification sort)") {
    val p = plan("text_pii_redact")
    assert(nShuffles(p) <= 1, s"unexpected shuffle in:\n$p")
  }

  test("pack_chunks runs on one data shuffle (lang window) plus the output sort") {
    val p = plan("docs_pack_chunks")
    assert(nShuffles(p) <= 2, s"extra shuffles in:\n$p")
  }

  test("recommend cuts the corpus with TakeOrdered and prunes example ids at the scan") {
    val p = plan("vs_recommend")
    assert(kRowCuts(p) >= 1, p)
    assert(sortsAndWindows("vs_recommend").isEmpty, p)
    assert(p.contains("Not(In(doc_id") || p.contains("Not(In(vec_id"),
      s"example-id exclusion not pushed to the scan:\n$p")
  }

  test("q6 pushes every predicate to the lineitem scan (pure pushdown-then-reduce)") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount") && p.contains("LessThan(l_quantity"),
      s"predicates missing from PushedFilters:\n$p")
  }

  test("bq search cuts the hamming stage with TakeOrdered (no global sort)") {
    val p = plan("emb_bq_search")
    assert(p.contains("TakeOrderedAndProject"), s"coarse stage sorts globally:\n$p")
  }

  test("grouped search cuts per-group hits before the group-rank step") {
    val p = plan("vs_search_groups")
    assert(perKeyCutBelowExchange("vs_search_groups"), s"per-group cut not pushed:\n$p")
    assert(p.contains("RankedTopK"), s"group rank is not a k-row cut:\n$p")
  }

  test("per-query top-k finals rank in the heap operator: no Window or WindowGroupLimit") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.graft.plans.TopKPerKeyExec
    for (name <- Seq("ann_brute_topk", "text_doc_sim_topk")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize the adaptive plan
      val executed = df.queryExecution.executedPlan
      val nodes = new AdaptiveSparkPlanHelper {}.collect(executed) {
        case p @ (_: WindowExec | _: WindowGroupLimitExec) => p.nodeName
        case p: TopKPerKeyExec if !p.partial => "final TopKPerKey"
      }
      assert(nodes == Seq("final TopKPerKey"), s"$name plans $nodes:\n$executed")
    }
  }

  test("q21 collapses both existence probes into one per-order aggregation") {
    val p = plan("q21_waiting_supplier")
    // the classic formulation re-shuffles lineitem through a semi+anti
    // join pair; the collapse leaves only the orderkey join/agg chain,
    // the tiny supplier-tally exchange, and the 20-row TakeOrdered
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"existence probes planned as joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"final cut sorts globally:\n$p")
    assert(nShuffles(p) <= 3, s"${nShuffles(p)} shuffles in q21 plan:\n$p")
  }

  test("set_payload merges the patch by broadcast (corpus never hash-shuffles)") {
    val p = plan("vs_set_payload")
    assert(p.contains("BroadcastHashJoin"), s"patch merge degraded:\n$p")
    // sole exchange is the verification-layer output sort
    assert(nShuffles(p) <= 1, s"${nShuffles(p)} shuffles in set_payload plan:\n$p")
  }

  test("minhash signature aggregation stays a single-field typed aggregate") {
    // 128 declarative min-columns would exceed spark.sql.codegen.maxFields
    // and silently fall back to interpreted evaluation (the round-2 GC
    // regression); the typed buffer plans as ObjectHashAggregate
    val p = graft.operators.Dedup
      .minhashSignatures(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), s"typed aggregate not planned:\n$p")
    assert(p.contains("minhashagg") || p.contains("MinHashAgg"),
      s"MinHashAgg missing from plan:\n$p")
  }

  test("basket pairs assemble on one basket exchange with a TakeOrdered cut") {
    val p = plan("orders_basket_pairs")
    // pair expansion must be map-side Generates over the basket array —
    // a join-based expansion would re-shuffle the item stream
    assert(!p.contains("SortMergeJoin"), s"pair expansion degraded to a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-N sorts globally:\n$p")
    // the static plan prints the basket subtree once per consumer; the
    // scale property is the RUNTIME stage count — AQE's exchange reuse
    // must collapse the repeated basket exchange into shared stages
    val df = SparkEntry.queries("orders_basket_pairs")(spark, sf)
    df.collect()
    val stages = """ShuffleQueryStage \d+""".r
      .findAllIn(df.queryExecution.executedPlan.toString).toSet
    assert(stages.size <= 4,
      s"${stages.size} distinct shuffle stages executed: $stages")
  }

  test("sparse search reads posting lists via broadcast (corpus-side join stays term-keyed)") {
    val p = plan("vs_sparse_search")
    assert(p.contains("BroadcastHashJoin"), s"query-term join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k sorts globally:\n$p")
  }

  test("multivec maxsim broadcasts query tokens and cuts with TakeOrdered") {
    val p = plan("vs_multivec_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query-token join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k sorts globally:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side join degraded:\n$p")
  }

  test("q9 keeps part and supplier broadcast with the name filter pushed") {
    val p = plan("q9_profit_nation")
    assert(p.contains("StringContains(p_name,widget)"),
      s"part name filter not pushed to the scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("dim stats aggregate exchanges dim-keyed partials, not vectors") {
    val p = plan("emb_dim_stats")
    // partial HashAggregate must sit below the (sole data) exchange
    assert(nShuffles(p) <= 2, s"${nShuffles(p)} shuffles in dim-stats plan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("pmi collocations broadcast the unigram table on both join arms") {
    val p = plan("text_pmi_colloc")
    // vocabulary-sized unigram counts must never shuffle-join against
    // the pair relation; the only exchanges are the pair/unigram
    // aggregations and the final rank/sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"unigram joins degraded from broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), "pair-side sort-merge join at vocab scale")
  }

  // (vs_semantic_recall_eval returns an eager localCheckpoint — its
  // observable plan is the materialized scan, so its no-corpus-shuffle
  // claim is audited in code review, not plan text)

  test("kll daily rollup plans exactly one value-keyed aggregation exchange") {
    // the sketch build is one partial-agg'd groupBy(day); everything
    // after runs on |days| KB blobs at the driver
    val p = plan("events_kll_daily")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"kll result plan grew exchanges: $exchanges")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shape: a selective dim filter should inject a runtime
    // bloom filter on the fact side's join key (row-group skipping at
    // the scan) when the join can't broadcast. Thresholds are forced so
    // the behavior is observable at test SF.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      val sel = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val j = Tables.lineitem(spark, sf)
        .join(sel, org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter in:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("distance matrix prunes the corpus to the sample at both scans") {
    val p = plan("vs_distance_matrix")
    assert(p.contains("LessThan(doc_id,20)") || p.contains("LessThan(vec_id,20)"),
      s"sample bound not pushed to the scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"pairwise join shape changed:\n$p")
  }

  test("q11 fact stream joins only broadcasts; the scope total is a broadcast scalar") {
    val p = plan("q11_important_stock")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join appeared:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row total not broadcast back:\n$p")
  }

  test("q20 probes suppliers with a broadcast semi join and pushes the ship-year bound") {
    val p = plan("q20_excess_suppliers")
    assert(p.contains("LeftSemi"), s"supplier probe not a semi join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to sort-merge:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"),
      s"ship-year bound not pushed to the lineitem scan:\n$p")
  }

  test("dsir scoring joins the broadcast ratio table (corpus reduced before exchange)") {
    val p = plan("docs_dsir_weights")
    assert(!p.contains("SortMergeJoin"), s"bucket-ratio join degraded to sort-merge:\n$p")
  }

  test("semantic dedup compare join carries no vector arrays across its exchange") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.ArrayType
    // the n²/k-pair compare join must run on the (id, cluster, cdist)
    // projection — a vector column on either side multiplies the
    // exchange by dim×8 bytes per candidate pair at scale
    val plan = operators.Dedup.semanticDedup(spark, sf).queryExecution.sparkPlan
    val compares = plan.collect {
      case j: BaseJoinExec
        if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "cluster")) ||
          j.condition.exists(_.references.exists(_.name == "cluster")) => j
    }
    assert(compares.nonEmpty, s"cluster compare join not found:\n$plan")
    compares.foreach { j =>
      Seq("left" -> j.left, "right" -> j.right).foreach { case (side, child) =>
        val arrays = child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"$side side of the compare join carries array columns $arrays:\n$plan")
      }
    }
  }

  test("session stats reuses the sessionize window's partitioning for both rollups") {
    val p = plan("events_session_stats")
    // HashPartitioning(user) satisfies the (user, session) and (user)
    // clusterings, so the window exchange is the ONLY data exchange;
    // the second is the verification sort's range partitioning
    assert(nShuffles(p) <= 2, s"rollups re-shuffled after the window:\n$p")
    // the lag and the running-sum are sequential (the second consumes
    // the first's output), so TWO Window operators are inherent — but
    // they must share the one user-hash exchange, never add their own
    val nWindows = "\\(\\d+\\) Window\\b".r.findAllIn(p).size
    assert(nWindows == 2, s"expected the two stacked Window passes, got $nWindows:\n$p")
  }

  test("skyline plans the two-phase sweep, never an inequality self-join") {
    val p = plan("part_skyline")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"skyline degraded to a pairwise join:\n$p")
    assert(p.contains("Coalesce"), s"final sweep lost its single-task collapse:\n$p")
  }

  test("centroid drift exchanges (label, dim) decimal partials, never vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val sp = SparkEntry.queries("emb_centroid_drift")(spark, sf)
      .queryExecution.sparkPlan
    val offenders = sp.collect {
      case e: ShuffleExchangeExec
        if e.child.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
    }
    assert(offenders.isEmpty, s"embedding arrays crossed an exchange:\n$sp")
  }

  test("cohort LTV builds the cohort map once and joins it back without re-scanning") {
    val p = plan("orders_cohort_ltv")
    // orders scanned twice (base + cohort build) is the expected shape;
    // the join back must be keyed on the custkey clustering
    assert(nShuffles(p) <= 4, s"cohort join exploded into extra exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("abc/ccnet rank windows are pid-partitioned (no single-task global sort)") {
    // the distributed prefix rewrite: every window in these plans must
    // partition by the pinned range-partition id — an unpartitioned (or
    // lang-only) window spec is the corpus-in-one-task regression
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("parts_abc_analysis", "text_ccnet_buckets")) {
      val ws = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(ws.nonEmpty, s"$q plans no window at all")
      val bad = ws.filterNot(_.partitionSpec.exists(
        _.references.exists(_.name == "pid")))
      assert(bad.isEmpty,
        s"$q window(s) not partitioned by pid: ${bad.map(_.partitionSpec)}")
    }
  }

  test("event paths run ONE user-keyed window pass for both leads") {
    val p = plan("events_path_topn")
    // two stacked lead()s must share a single Window operator/sort —
    // count formatted-plan OPERATOR HEADERS ("(n) Window"), so a
    // regression that splits the leads into two Window passes fails
    // (`Window\b` does not match WindowGroupLimit)
    val nWindows = "\\(\\d+\\) Window\\b".r.findAllIn(p).size
    assert(nWindows == 1, s"expected exactly one Window operator, got $nWindows:\n$p")
    assert(nShuffles(p) <= 2, s"stacked leads split into extra passes:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-n cut sorts globally:\n$p")
  }

  test("incremental dedup's bucketed vocabulary joins with zero index-side exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    graft.operators.Dedup.writeGramVocabulary(
      docs.filter(col("doc_id") % 10 =!= 0), "gram_vocab_b", w = 8, nBuckets = 4)
    // force the shuffle strategy: a broadcast of the vocabulary would
    // mask whether the bucketed layout is what kills the exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Dedup.incrementalDedupBucketed(spark, sf, "gram_vocab_b")
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // the vocabulary is read through its bucket layout...
      assert(p.contains("SelectedBucketsCount"), s"vocab scan not bucketed:\n$p")
      // ...and the ONLY gram-hash exchange is the batch side shuffling
      // to the bucket grid — the index side plans none (its layout IS
      // the exchange). Two h-exchanges would mean the bucketing is lost.
      // formatted mode lists an Exchange's partitioning in its detail
      // block ("Arguments: hashpartitioning(h#…, n), ENSURE_REQUIREMENTS")
      val hExchanges = "hashpartitioning\\(h#".r.findAllIn(p).size
      assert(hExchanges == 1, s"expected 1 batch-side gram exchange, got $hExchanges:\n$p")
      // same verdicts as the inline variant, row for row
      val inline = graft.operators.Dedup.incrementalDedup(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(df.collect().map(_.toSeq).toSet === inline)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("geo search broadcasts the query and never sort-merges the corpus") {
    val p = plan("vs_geo_search")
    assert(!p.contains("SortMergeJoin"), s"geo search degraded to SMJ:\n$p")
    assert(kRowCuts(p) >= 1, s"geo rank not a k-row cut:\n$p")
    assert(sortsAndWindows("vs_geo_search").isEmpty, s"geo rank sorts or windows:\n$p")
  }

  test("df-cap joins stay UNHINTED (no forced broadcast past the size check)") {
    // VERDICT r4 #1: the hot-gram/hot-fp relations are bounded by
    // volume/dfCap — small at test SF but ~10⁹⁻¹⁰ rows at 100 TB. A
    // forced broadcast() hint would override Spark's size check there
    // (driver OOM instead of a graceful shuffle-join fallback), so the
    // anti/semi joins must carry NO join-strategy hint: the engine
    // picks broadcast while the measured size is small and degrades to
    // a shuffle join when it is not. Strategy-agnostic assert — the
    // anti join must exist under EITHER strategy.
    // jaccard/containment (and, since r14, winnow matches) serve from
    // memoized pair artifacts (whose executed plan is an
    // InMemoryTableScan / checkpointed RDD scan), so the shape
    // contract is asserted on the UNCACHED scaffold builders they
    // materialize from
    val dfcaps = Seq(
      "dedup gram scaffold" ->
        graft.operators.Dedup.candidatePairCountsUncached(spark, sf, 5, 1024),
      "winnow match scaffold" -> graft.operators.TextAnalysis
        .winnowMatchesOf(graft.operators.TextAnalysis.winnowing(spark, sf)))
    for ((q, df) <- dfcaps) {
      val qe = df.queryExecution
      assert(!qe.analyzed.toString.contains("ResolvedHint"),
        s"$q carries a forced join-strategy hint")
      val p = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("LeftAnti"), s"$q lost its hot-cap anti join:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q anti join vanished:\n$p")
    }
  }

  test("dbsf fusion cuts both ranker lists to depth rows before fusing") {
    val p = plan("vs_dbsf_fusion")
    // two TakeOrdered depth-cuts (bm25 list + cosine list); the fusion
    // join/aggregates then run over bounded lists only
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"expected both ranker lists TakeOrdered-cut:\n$p")
    assert(p.contains("RankedTopK") && sortsAndWindows("vs_dbsf_fusion").isEmpty,
      s"the fused rank is not one k-row operator:\n$p")
  }

  test("zipf fit reduces to a TakeOrdered vocabulary head before the moment aggregate") {
    val p = plan("text_zipf_slope")
    assert(kRowCuts(p) >= 1, s"vocabulary head not a k-row cut:\n$p")
    assert(sortsAndWindows("text_zipf_slope").isEmpty, s"vocabulary rank sorts or windows:\n$p")
  }

  test("cdc chunking shuffles bounded relations only (doc windows + digest count)") {
    val p = plan("docs_cdc_chunks")
    // doc-keyed window, bounds groupBy, bounds-to-words join, digest
    // window, final sort — no plan shape should need more than 6
    // exchanges, and none of them carries more than (doc, pos, flag) /
    // (doc, chunk, digest) rows
    assert(nShuffles(p) <= 6, s"${nShuffles(p)} shuffles in cdc plan:\n$p")
  }

  test("best-score recommend is one map pass + k-row cut (corpus never shuffles)") {
    val p = plan("vs_recommend_best_score")
    // example vectors are inlined literals: no join at all, just the
    // scored scan feeding a k-row rank
    assert(kRowCuts(p) >= 1, s"no k-row cut:\n$p")
    assert(sortsAndWindows("vs_recommend_best_score").isEmpty, s"the rank sorts or windows:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side join appeared:\n$p")
  }

  test("match-text search keeps the word predicate map-side and never sort-merges") {
    val p = plan("vs_search_match_text")
    assert(p.contains("RankedTopK"), s"no k-row cut:\n$p")
    assert(!p.contains("SortMergeJoin"), s"match-text degraded to SMJ:\n$p")
  }

  test("bpe encode's vocabulary join stays UNHINTED (AQE picks the strategy)") {
    // the encoded-vocabulary relation is distinct-words-sized — small at
    // test SF, but a 100 TB corpus vocabulary is past any broadcast
    // limit; the corpus-to-vocab join must carry no forced hint so the
    // engine can degrade to a shuffle join
    val qe = SparkEntry.queries("text_bpe_encode")(spark, sf).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "bpe encode carries a forced join-strategy hint")
  }

  test("basket lift joins only mining-result-sized relations after the pair prune") {
    val p = plan("orders_basket_lift")
    // the pair side is the topN TakeOrdered mining output; per-item
    // counts and the basket total join against it — nothing corpus-sized
    // crosses a join after the prune
    assert(p.contains("TakeOrderedAndProject"), s"pair mining lost its topN cut:\n$p")
    assert(!p.contains("CartesianProduct"), s"unconstrained product:\n$p")
  }

  test("prefetch cascade: every tier cut is a TakeOrdered, candidates broadcast, no SMJ") {
    val p = plan("emb_query_prefetch")
    // stage-1 (hamming) and stage-2 (SQ rescore) cuts must both plan as
    // per-partition heaps + k-row merge, never a global sort
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"a cascade tier lost its TakeOrdered cut:\n$p")
    // the corpus joins each tier's survivors via broadcast — a
    // sort-merge join would shuffle the full vector column
    assert(!p.contains("SortMergeJoin"), s"cascade degraded to SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast candidate join:\n$p")
  }

  test("knn self-eval broadcasts the bounded query sample, never shuffles the corpus") {
    val simple = SparkEntry.queries("emb_knn_self_eval")(spark, sf)
      .queryExecution.executedPlan.toString
    // corpus×queries scoring must be a broadcast nested-loop (bounded
    // query side) — the only hash exchanges are the k-row rank/vote ones
    assert(simple.contains("BroadcastNestedLoopJoin"),
      s"query sample not broadcast:\n$simple")
    assert(!simple.contains("SortMergeJoin"), s"corpus-side SMJ:\n$simple")
  }

  test("curriculum order plans no unpartitioned corpus window") {
    // both global ranks ride DistributedRank (range partition + local
    // window); a regression to Window.orderBy over the corpus would
    // plan a single-partition exchange feeding a Window
    val simple = SparkEntry.queries("docs_curriculum_order")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!simple.contains("Exchange SinglePartition"),
      s"single-task global window reappeared:\n$simple")
  }

  // The wire-route plans (§5.1 round-13 second-phase audits): the wire
  // forms must land on the SAME scale shapes as the typed rows — a
  // dispatch refactor that re-plans a keyset scroll as an OFFSET sort
  // or un-pushes the cursor still returns the right page at sf0.001.

  test("wire scroll plans a pushed keyset cursor + TakeOrdered page cut") {
    val p = plan("vs_points_scroll")
    assert(p.contains("TakeOrderedAndProject"), s"page cut sorts globally:\n$p")
    assert(p.contains("GreaterThanOrEqual(id,101)"),
      s"the inclusive id cursor did not reach the scan:\n$p")
  }

  test("wire count/facet are one partial-agg'd exchange over the pruned scan") {
    val pc = plan("vs_points_count")
    assert(pc.contains("HashAggregate") && nShuffles(pc) <= 1,
      s"count grew extra shuffles:\n$pc")
    val pf = plan("vs_points_facet")
    assert(pf.contains("TakeOrderedAndProject") && nShuffles(pf) <= 1,
      s"facet lost its single-exchange shape:\n$pf")
  }

  test("wire batch unions per-request plans, each arm keeping its own TakeOrdered cut") {
    val p = plan("vs_points_query_batch")
    assert(p.contains("Union"), s"batch lost the plan union:\n$p")
    // a TakeOrdered or a RankedTopK cut (the wire nearest arms) per arm
    assert(kRowCuts(p) >= 2,
      s"an arm lost its own top-k cut:\n$p")
    assert(!p.contains("SortMergeJoin"), s"an arm degraded to SMJ:\n$p")
  }

  test("wire update composes as narrow transforms: no SMJ, only the audit sort exchanges") {
    val p = plan("vs_points_update")
    assert(!p.contains("SortMergeJoin"),
      s"a vector patch degraded to a shuffled join:\n$p")
    assert(nShuffles(p) <= 1, s"the op fold grew data shuffles:\n$p")
  }

  test("a tenant /points/query request ranks in one operator: one job of one stage, no Window/Sort/Exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    // the tenant's zone spans several files, so the scan runs several
    // tasks and only a shuffle could merge them in a second stage
    val tenant = 3L
    val q = Tables.points(spark, sf).filter(col("id") === 1).select("vector").head().getSeq[Double](0)
    val json = s"""{"query": {"nearest": [${q.mkString(", ")}]}, "filter": {"must":
      |[{"key": "user_id", "match": {"value": $tenant}}]}, "limit": 10}""".stripMargin
    graft.operators.VectorStore.pointsQuery(spark, sf, json).collect() // fill the payload index
    val df = graft.operators.VectorStore.pointsQuery(spark, sf, json)
    val group = "ranked-topk-gate"
    val (jobs, stages) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      private def in(p: java.util.Properties, g: String) =
        p != null && p.getProperty("spark.jobGroup.id") == g
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (in(e.properties, group)) jobs.incrementAndGet()
        if (in(e.properties, group + "-fence")) fenced.countDown()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (in(e.properties, group)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val got = try {
      sc.setJobGroup(group, "one tenant request")
      val rows = df.collect()
      // a job started after the collect: once the listener sees it,
      // it has seen every event the collect posted
      sc.setJobGroup(group + "-fence", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener fence timed out")
      rows
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(got.length == 10, got.toSeq)
    val executed = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val offending = helper.collect(executed) {
      case p @ (_: WindowExec | _: SortExec | _: Exchange) => p.nodeName
    }
    assert(offending.isEmpty, s"the request plan holds $offending:\n$executed")
    assert(!executed.isInstanceOf[AdaptiveSparkPlanExec], s"an exchange-free plan is AQE-wrapped:\n$executed")
    val files = helper.collect(executed) { case f: FileSourceScanExec => f.metrics("numFiles").value }.sum
    assert(files >= 2, s"the tenant zone read $files file(s); the gate needs several:\n$executed")
    assert(jobs.get == 1 && stages.get == 1,
      s"one collect ran ${jobs.get} job(s) and ${stages.get} stage(s):\n$executed")
  }

  test("a tenant /points/query request is built as one Filter and one Project under its RankedTopK, with one query-vector literal") {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.plans.RankedTopK
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val q = Tables.points(spark, sf).filter(col("id") === 1).select("vector").head().getSeq[Double](0)
    val json = s"""{"query": {"nearest": [${q.mkString(", ")}]}, "filter": {"must":
      |[{"key": "user_id", "match": {"value": 3}}, {"key": "lang", "match": {"value": "en"}}]},
      |"limit": 10}""".stripMargin
    val analyzed = graft.operators.VectorStore.pointsQuery(spark, sf, json).queryExecution.analyzed
    analyzed match {
      case RankedTopK(_, 0, 10, _, Project(cands, Filter(_, _: LogicalRelation))) =>
        val vectors = cands.flatMap(_.collect {
          case l @ Literal(_, ArrayType(DoubleType, _)) => l
          case a: CreateArray => a
        })
        assert(vectors.size == 1 && vectors.head.isInstanceOf[Literal],
          s"the query vector is $vectors, not one literal:\n$analyzed")
        assert(vectors.head.asInstanceOf[Literal].value.asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq == q)
      case other => fail(s"a tenant request is not RankedTopK / Project / Filter / relation:\n$other")
    }
  }

  test("a tenant /points/query request's scan pushes its user_id match and reads columnar batches through the lean parquet format") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.LeanConfParquetFormat
    val q = Tables.points(spark, sf).filter(col("id") === 1).select("vector").head().getSeq[Double](0)
    val json = s"""{"query": {"nearest": [${q.mkString(", ")}]}, "filter": {"must":
      |[{"key": "user_id", "match": {"value": 3}}, {"key": "lang", "match": {"value": "en"}}]},
      |"limit": 10}""".stripMargin
    val executed = graft.operators.VectorStore.pointsQuery(spark, sf, json).queryExecution.executedPlan
    val scans = executed.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"the request plans ${scans.size} file scans:\n$executed")
    val scan = scans.head
    assert(scan.relation.fileFormat.isInstanceOf[LeanConfParquetFormat],
      s"the scan reads ${scan.relation.fileFormat.getClass.getName}")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(user_id,3)"), s"pushed filters are $pushed")
    assert(scan.supportsColumnar, s"the scan reads rows, not columnar batches:\n$executed")
  }
}
