package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap

/** The benchmark program: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload tenant_search|curate_corpus
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR --results DIR
  *   [--commit C] [--source-hash H] [--inject throw|wrong]
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end
  * metrics; with `--trace 1` the timed phase runs in untraced, traced
  * and untraced blocks, and the last line carries the per-layer metrics
  * (means per traced op) plus the tracing overhead. The full report, and in traced
  * runs the span file, land in the results directory. Exit code 1 means
  * an op failed or answered wrongly.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ref_ms" -> "ms", "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "api.parse_ms" -> "ms", "operators.build_ms" -> "ms", "operators.eager_jobs" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms",
    "sched.sql_executions" -> "count", "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.non_task_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.core_util" -> "fraction",
    "exec.task_gc_ms" -> "ms", "jvm.gc_pause_ms" -> "ms",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "scan.files" -> "count", "scan.bytes" -> "bytes", "scan.rows_per_result" -> "rows/row",
    "write.files" -> "count", "write.bytes" -> "bytes", "write.live_files" -> "count",
    "setup.session_s" -> "s", "setup.warm_scan_s" -> "s", "setup.fill_s" -> "s",
    "trace.overhead_p50_ms" -> "ms")

  /** Set-up repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** A run during which the host stole more than this share of the
    * VM's CPU time is flagged contended.
    */
  val StealLimit = 0.02

  /** Calibration loops timed just before and just after the timed phase. */
  val CalibrationUnits = 20

  /** The blocks of a traced run: traced or not. */
  val TraceOrder = Seq(false, true, false)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val data = Paths.get(need("data"))
    val work = Paths.get(need("work"))
    val results = Paths.get(need("results"))
    val inject = opt.get("inject")
    require(Files.isRegularFile(data.resolve("documents.parquet")) &&
      Files.isRegularFile(data.resolve("embeddings.parquet")),
      s"no sf0.1 tables under $data")
    Files.createDirectories(work); Files.createDirectories(results)

    val cores = Runtime.getRuntime.availableProcessors()
    val ticks0 = Env.cpuTicks()
    val env = Env.capture(cores, opt.getOrElse("commit", "unknown"),
      opt.getOrElse("source-hash", "unknown"))
    if (env.contended)
      println(s"[perfbench] CONTENDED RUN: loadavg_start=${env.loadavgStart} " +
        s"foreign_jvms=${env.foreignJvms.size} — numbers are not comparable with a quiet run")

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val runner = new Runner(spark, inject)
    val ctx = Ctx(spark, runner, seed, data, work)
    val w = Workload(workload, ctx)

    // set-up, repeated: each repetition is the program's full set-up
    // after session start (warm scan + the workload's artifact fill)
    val setupReps = (1 to SetupReps).map(w.setupRep)
    val repS = setupReps.map { case (a, b) => a + b }
    val setupS = sessionS + Util.median(repS)
    val prep = w.prepare()
    val warm = w.warmup()

    val tracer = if (trace) Some(new Tracer(runner.ledger)) else None
    val baseNs = System.nanoTime(); val baseMs = System.currentTimeMillis()
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val calibBefore = Calibration.run(CalibrationUnits)
    if (!trace) w.measure(seconds, "timed")
    else {
      // blocks untraced, traced, untraced: drift over the run (JIT,
      // caches, growing state) that is linear in time cancels out of the
      // overhead
      TraceOrder.foreach { traced =>
        runner.setTracer(if (traced) tracer else None)
        w.measure(seconds / TraceOrder.size, if (traced) "traced" else "untraced")
      }
      runner.setTracer(None)
    }

    val calib = calibBefore ++ Calibration.run(CalibrationUnits)
    val steal = Env.stealShareSince(ticks0)
    if (steal > StealLimit)
      println(f"[perfbench] CONTENDED RUN: the host stole ${steal * 100}%.1f%% of this VM's " +
        "CPU time during the run — numbers are not comparable with a quiet run")
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    val retainedMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val ops = runner.ops.toSeq
    val timedOps = ops.filter(_.phase != "warmup")
    val (problem, verdictDetails) = w.verdict(ops)
    val failures = runner.failures
    val samples = w.headline(timedOps)
    val correct = failures.isEmpty && problem.isEmpty && samples.nonEmpty

    val calibMs = Util.median(calib)
    val opP50 = Util.median(samples)
    val e2e = ListMap(
      "setup_s" -> setupS,
      "op_p50_ref_ms" -> opP50 * Calibration.ReferenceMs / calibMs,
      "retained_heap_mb" -> retainedMb)
    // a tail percentile needs ten samples beyond it: a search run has
    // 75, a curation run one, so tails stay in the workload's own numbers
    val detail = w.metrics(timedOps) ++ ListMap(
      "op_p50_ms" -> opP50, "machine_loop_ms" -> calibMs,
      "error_rate" -> failures.size.toDouble / math.max(1, ops.size),
      "ops_attempted" -> ops.size.toDouble, "ops_timed" -> timedOps.size.toDouble,
      "headline_samples" -> samples.size.toDouble)

    val layer: ListMap[String, Double] = tracer.map { t =>
      runner.ledger.awaitQuiet()
      val traced = timedOps.filter(_.phase == "traced")
      val untraced = timedOps.filter(_.phase == "untraced")
      val (tracedP50, untracedP50) = (Util.median(w.headline(traced)), Util.median(w.headline(untraced)))
      val table = layerTable(t, runner, traced, epochMs, cores)
      val setupLayer = ListMap(
        "setup.session_s" -> sessionS,
        "setup.warm_scan_s" -> Util.median(setupReps.map(_._1)),
        "setup.fill_s" -> Util.median(setupReps.map(_._2)))
      val overhead = ListMap("trace.overhead_p50_ms" -> (tracedP50 - untracedP50))
      val all = table ++ setupLayer ++ overhead
      writeSpans(results.resolve(s"$workload-seed$seed.trace.jsonl"), Util.obj(
        "workload" -> workload, "seed" -> seed, "env" -> env.toMap, "per_layer" -> all,
        "overhead" -> Util.obj(
          "untraced_op_p50_ms" -> untracedP50, "traced_op_p50_ms" -> tracedP50,
          "untraced_ops" -> untraced.size, "traced_ops" -> traced.size),
        "setup_fills" -> Util.obj("fill" -> w.fillName, "warm_scan_s" -> setupReps.map(_._1),
          "fill_s" -> setupReps.map(_._2))), t, runner, traced, epochMs)
      all
    }.getOrElse(ListMap.empty)

    val report = Util.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "env" -> env.toMap, "stream" -> prep, "warmup" -> warm,
      "machine_speed" -> Util.obj(
        "reference_ms" -> Calibration.ReferenceMs, "loops_ms" -> calib,
        "steal_share" -> steal, "contended" -> (steal > StealLimit)),
      "setup" -> Util.obj("session_s" -> sessionS, "fill" -> w.fillName,
        "repetitions_s" -> repS, "setup_s" -> setupS),
      "end_to_end" -> e2e, "workload_metrics" -> detail, "per_layer" -> layer,
      "verdict" -> problem, "run_checks" -> verdictDetails,
      "ops" -> ops.map(o => Seq(o.id, o.kind, o.phase, o.ms, o.ok)),
      "failures" -> failures.map(f => Util.obj("op" -> f.id, "kind" -> f.kind,
        "phase" -> f.phase, "error" -> f.error.getOrElse(""))))
    val reportPath = results.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.writeString(reportPath, Util.json(report))

    val units = (EndToEnd ++ PerLayer).toMap
    println(s"[perfbench] workload=$workload seed=$seed stream=${prep.getOrElse("stream_sha256", "")} " +
      s"correct=$correct report=$reportPath")
    (e2e ++ detail ++ layer).foreach { case (k, v) =>
      println(f"[perfbench]   $k%-24s $v%.6f ${units.getOrElse(k, "")}") }
    failures.take(10).foreach(f => println(s"[perfbench] FAILED op ${f.id} (${f.kind}): ${f.error.get}"))
    problem.foreach(p => println(s"[perfbench] FAILED run check: $p"))

    val shown = if (trace) PerLayer.map { case (k, u) => k -> (layer.getOrElse(k, Double.NaN), u) }
                else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    println(Util.json(Util.obj("correct" -> correct, "attempted" -> ops.size,
      "failed" -> (failures.size + problem.size),
      "metrics" -> ListMap(shown.map { case (k, (v, u)) => k -> Util.obj("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      classOf[org.apache.spark.sql.execution.window.WindowExec].getName,
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Per-layer numbers over a set of traced ops: per-op means, with the
    * two ratios taken over the sums.
    */
  private def layerTable(t: Tracer, runner: Runner, ops: Seq[OpRecord],
                         epochMs: Long => Double, cores: Int): ListMap[String, Double] = {
    if (ops.isEmpty) return ListMap.empty
    val per = ops.map(o => o -> t.perOp(o, epochMs, cores))
    def spanMs(o: OpRecord, name: String) =
      runner.spans.filter(s => s.opId == o.id && s.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
    def avg(f: ((OpRecord, Map[String, Double])) => Double) = per.map(f).sum / per.size
    val rows = per.map(_._2("scan.rows")).sum
    val results = ops.map(_.resultRows.toDouble).sum
    val wallCores = ops.map(_.ms).sum * cores
    ListMap(
      "api.parse_ms" -> avg { case (o, _) => spanMs(o, "api.parse") },
      "operators.build_ms" -> avg { case (o, _) =>
        math.max(0.0, spanMs(o, "operators.build") - spanMs(o, "api.parse")) },
      "operators.eager_jobs" -> avg(_._2("operators.eager_jobs")),
      "plan.analysis_ms" -> avg(_._2("plan.analysis_ms")),
      "plan.optimize_ms" -> avg(_._2("plan.optimize_ms")),
      "plan.physical_ms" -> avg(_._2("plan.physical_ms")),
      "sched.sql_executions" -> avg(_._2("sched.sql_executions")),
      "sched.jobs" -> avg(_._2("sched.jobs")),
      "sched.stages" -> avg(_._2("sched.stages")),
      "sched.tasks" -> avg(_._2("sched.tasks")),
      "sched.non_task_ms" -> avg(_._2("sched.non_task_ms")),
      "exec.task_run_ms" -> avg(_._2("exec.task_run_ms")),
      "exec.task_cpu_ms" -> avg(_._2("exec.task_cpu_ms")),
      "exec.core_util" -> (if (wallCores > 0) per.map(_._2("exec.task_run_ms")).sum / wallCores else 0.0),
      "exec.task_gc_ms" -> avg(_._2("exec.task_gc_ms")),
      "jvm.gc_pause_ms" -> avg { case (o, _) => o.gcMs.toDouble },
      "shuffle.read_bytes" -> avg(_._2("shuffle.read_bytes")),
      "shuffle.write_bytes" -> avg(_._2("shuffle.write_bytes")),
      "shuffle.spill_bytes" -> avg(_._2("shuffle.spill_bytes")),
      "scan.files" -> avg(_._2("scan.files")),
      "scan.bytes" -> avg(_._2("scan.bytes")),
      "scan.rows_per_result" -> (if (results > 0) rows / results else 0.0),
      "write.files" -> avg { case (o, _) => o.extra.getOrElse("write.files", 0.0) },
      "write.bytes" -> avg { case (o, _) => o.extra.getOrElse("write.bytes", 0.0) },
      "write.live_files" -> avg { case (o, _) => o.extra.getOrElse("write.live_files", 0.0) })
  }

  /** The span file: one header line, then one line per span — ops, the
    * benchmark's layer spans, and Spark's jobs, stages and plans.
    */
  private def writeSpans(path: Path, header: Map[String, Any], t: Tracer, runner: Runner,
                         ops: Seq[OpRecord], epochMs: Long => Double): Unit = {
    val ids = ops.map(_.id).toSet
    val lines = Iterator(Util.json(header)) ++
      ops.iterator.map(o => Util.json(Util.obj("name" -> s"op.${o.kind}", "start_ms" -> epochMs(o.startNs),
        "end_ms" -> epochMs(o.endNs), "parent" -> null, "op_id" -> o.id, "id" -> s"op-${o.id}",
        "ok" -> o.ok))) ++
      runner.spans.iterator.filter(s => ids.contains(s.opId)).map(s =>
        Util.json(Util.obj("name" -> s.name, "start_ms" -> epochMs(s.startNs),
          "end_ms" -> epochMs(s.endNs), "parent" -> s"op-${s.opId}", "op_id" -> s.opId)))  ++
      ops.iterator.flatMap(t.sparkSpans(_, epochMs)).map(Util.json)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
