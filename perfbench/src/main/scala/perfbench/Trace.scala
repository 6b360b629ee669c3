package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Jobs, stages and tasks per job group, and the listener-bus clock
  * that [[awaitQuiet]] waits on. Attached for the whole run: its counts
  * serve the cold check of every run and the `sched.*` counts of a
  * traced one.
  */
final class JobLedger extends SparkListener {
  import Tracer.JobRec

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tasksBy = new ConcurrentHashMap[String, AtomicLong]()
  private val lastEvent = new AtomicLong(System.nanoTime())
  private val openJobs = new AtomicInteger(0)

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.incrementAndGet()
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.add(JobRec(e.jobId, groupOf(e.properties), exec, e.time, e.stageIds))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time); openJobs.decrementAndGet(); touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    if (g != null) stageGroup.put(e.stageInfo.stageId, g)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageGroup.get(e.stageId)).foreach(g =>
      tasksBy.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet())
    touch()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = touch()

  /** Wait until no listener event has arrived for `quietMs` and every
    * started job has ended (bounded by `maxMs`).
    */
  def awaitQuiet(quietMs: Long = 400, maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get() > 0 || System.nanoTime() - lastEvent.get() < quietMs * 1000000L))
      Thread.sleep(50)
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.asScala.filter(_.group == group).toSeq
  def jobEnd(job: JobRec): Long = jobEnds.getOrDefault(job.id, job.start)
  /** The stages of `group` that were submitted (skipped ones are not). */
  def stagesOf(group: String): Set[Int] =
    stageGroup.asScala.collect { case (s, `group`) => s }.toSet
  def tasksOf(group: String): Long = Option(tasksBy.get(group)).map(_.get).getOrElse(0L)
}

/** The traced run's view from outside graft: Spark's public listener
  * APIs, attributed to ops through the job group each op sets. The
  * [[JobLedger]] gives each op's jobs and stages; this adds
  *
  *  - `SparkListener`: per-task metrics (run time, CPU, GC, shuffle,
  *    spill, input) and stage records for the span file;
  *  - `SparkListenerSQLExecutionStart`: SQL execution → job group;
  *  - `QueryExecutionListener`: the planning tracker's phases and the
  *    executed plan's file-scan metrics, attributed by the op's wall
  *    interval (ops run one at a time).
  *
  * Events arrive on the listener bus; the ledger's `awaitQuiet` waits
  * for it to drain before [[perOp]] reads them.
  */
final class Tracer(ledger: JobLedger) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.add(StageRec(si.stageId, si.attemptNumber(), si.name,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      si.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks.add(TaskRec(e.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime / 1000000.0, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    def phase(n: String): Double =
      qe.tracker.phases.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val files =
      try PlanWalk.fileScans(qe.executedPlan).map(s =>
        System.identityHashCode(s) -> s.metrics.get("numFiles").map(_.value).getOrElse(0L)).toMap
      catch { case _: Exception => Map.empty[Int, Long] }
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    plans.add(PlanRec(qe.id, start, phase("analysis"), phase("optimization"),
      phase("planning"), files))
  }

  /** Planned queries whose tracker started inside [t0, t1]. The
    * listener's `QueryExecution` carries no job group, but ops run one
    * at a time, so the op's wall interval attributes its plans.
    */
  private def plansIn(t0: Double, t1: Double): Seq[PlanRec] =
    plans.asScala.filter(p => p.startMs >= t0 - 1 && p.startMs <= t1 + 1).toSeq

  /** Per-layer numbers for one op, from the events of its job group.
    * `epochMs` maps the benchmark's nanoTime clock to Spark's epoch ms.
    */
  def perOp(op: OpRecord, epochMs: Long => Double, cores: Int): Map[String, Double] = {
    val g = op.group
    val js = ledger.jobsOf(g)
    val stageIds = ledger.stagesOf(g)
    val ts = tasks.asScala.filter(t => stageIds.contains(t.stageId)).toSeq
    val execs = execGroup.asScala.collect { case (x, `g`) => x }.toSet
    val t0 = epochMs(op.startNs); val t1 = epochMs(op.endNs)
    val ps = plansIn(t0, t1)
    val lastExec = execs.maxOption
    val wall = t1 - t0
    val busy = unionMs(ts.map(t => (math.max(t.launch.toDouble, t0), math.min(t.finish.toDouble, t1))))
    val runMs = ts.map(_.runMs.toDouble).sum
    Map(
      "operators.eager_jobs" -> js.count(j => j.exec.isEmpty || j.exec != lastExec).toDouble,
      "plan.analysis_ms" -> ps.map(_.analysisMs).sum,
      "plan.optimize_ms" -> ps.map(_.optimizeMs).sum,
      "plan.physical_ms" -> ps.map(_.physicalMs).sum,
      "sched.sql_executions" -> execs.size.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> stageIds.size.toDouble,
      "sched.tasks" -> ledger.tasksOf(g).toDouble,
      "sched.non_task_ms" -> math.max(0.0, wall - busy),
      "exec.task_run_ms" -> runMs,
      "exec.task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "exec.task_gc_ms" -> ts.map(_.gcMs.toDouble).sum,
      "exec.core_util" -> (if (wall > 0) runMs / (wall * cores) else 0.0),
      "shuffle.read_bytes" -> ts.map(_.shuffleRead.toDouble).sum,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite.toDouble).sum,
      "shuffle.spill_bytes" -> ts.map(_.spill.toDouble).sum,
      // a cached relation's scan shows up in every plan that reads the
      // cache: count each scan node once per op
      "scan.files" -> ps.flatMap(_.scanFiles).toMap.values.sum.toDouble,
      "scan.bytes" -> ts.map(_.inputBytes.toDouble).sum,
      "scan.rows" -> ts.map(_.inputRecords.toDouble).sum)
  }

  /** Spark-side spans of one op (jobs, stages, SQL plans), parented to
    * the op, for the trace file.
    */
  def sparkSpans(op: OpRecord, epochMs: Long => Double): Seq[Map[String, Any]] = {
    val g = op.group
    val js = ledger.jobsOf(g)
    val stageIds = ledger.stagesOf(g)
    val jobSpans = js.map(j => Util.obj("name" -> "spark.job", "start_ms" -> j.start,
      "end_ms" -> ledger.jobEnd(j), "parent" -> s"op-${op.id}",
      "op_id" -> op.id, "id" -> s"job-${j.id}",
      "sql_execution" -> j.exec))
    val parentOfStage = js.flatMap(j => j.stageIds.map(_ -> s"job-${j.id}")).toMap
    val stageSpans = stages.asScala.filter(s => stageIds.contains(s.id)).toSeq.map(s =>
      Util.obj("name" -> "spark.stage", "start_ms" -> s.submitted, "end_ms" -> s.completed,
        "parent" -> parentOfStage.getOrElse(s.id, s"op-${op.id}"), "op_id" -> op.id,
        "id" -> s"stage-${s.id}.${s.attempt}", "tasks" -> s.numTasks, "label" -> s.name))
    val planSpans = plansIn(epochMs(op.startNs), epochMs(op.endNs)).map(p =>
      Util.obj("name" -> "spark.plan", "start_ms" -> p.startMs,
        "end_ms" -> (p.startMs + p.analysisMs + p.optimizeMs + p.physicalMs),
        "parent" -> s"op-${op.id}", "op_id" -> op.id, "id" -> s"sql-${p.execId}",
        "analysis_ms" -> p.analysisMs, "optimize_ms" -> p.optimizeMs,
        "physical_ms" -> p.physicalMs, "scan_files" -> p.scanFiles.values.sum))
    jobSpans ++ stageSpans ++ planSpans
  }
}

object Tracer {
  final case class JobRec(id: Int, group: String, exec: Option[Long], start: Long,
                          stageIds: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, name: String, submitted: Long,
                            completed: Long, numTasks: Int)
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
                           cpuMs: Double, gcMs: Long, shuffleRead: Long,
                           shuffleWrite: Long, spill: Long, inputBytes: Long,
                           inputRecords: Long)
  final case class PlanRec(execId: Long, startMs: Long, analysisMs: Double,
                           optimizeMs: Double, physicalMs: Double,
                           scanFiles: Map[Int, Long]) // scan node identity -> files read

  /** Attach `t` to the session's listener buses (idempotent). */
  def attach(spark: SparkSession, t: Tracer): Unit = {
    detach(spark, t)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** File scans anywhere in an executed plan, including adaptive query
  * stages, subqueries and the plans behind cached relations.
  */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) {
      case s: FileSourceScanExec => Seq(s)
      case c: InMemoryTableScanExec => fileScans(c.relation.cachedPlan)
    }.flatten
}
