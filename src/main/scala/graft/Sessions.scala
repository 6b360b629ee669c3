package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft entry point runs in: Bench,
  * Verify, PlanAudit, BuildArtifacts, the spec suite and the profiling
  * harnesses all get the same configuration, differing only in cores.
  */
object Sessions {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS): read as long,
      // normalized in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // explicit (defaults in Spark 4, pinned as part of the scale
      // contract): runtime re-planning + skew-join splitting for hot
      // tenants / hot keys
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // parallelismFirst deliberately stays at the Spark DEFAULT
      // (true). Measured both ways (r14, same-subset A/B, both leg
      // orders): advisory-size-first coalescing (=false) was 0.58-1.0×
      // on every line — post-shuffle stages that EXPAND data (the
      // basket/gram self-joins) coalesce to one task on tiny input
      // BYTES and serialize their real CPU. Byte-based coalescing
      // cannot see join fan-out, so "respect the advisory size" is
      // wrong wherever shuffle-read size underestimates stage work —
      // a data-shape floor, not a local-core tune (numbers in
      // OPTIMIZATION_r14.md).
      //
      // the production wiring: SQL functions + graft_query TVF + TopK
      // strategy
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // bucketed-table sinks write here, never into the working dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the literal-key cumulative-sum windows (running totals over
    // already-aggregated, bounded relations: token and df histograms,
    // mixture annealing, decile shares, skew audits) are unpartitioned
    // BY DESIGN and each one logs "No Partition Defined" — lines that
    // bury real executor warnings. The scale gate for single-partition
    // funnels is PlanAudit's single_partition_exchange budget
    // (executed-plan count), so the per-execution warning goes quiet.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      classOf[org.apache.spark.sql.execution.window.WindowExec].getName,
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
