package perfbench

import graft.api.CuratePipeline

import scala.collection.immutable.ListMap

/** `curate_corpus`: `CuratePipeline.curate` over sf0.1 with default
  * arguments into a fresh output path. Every iteration starts from cold
  * program state — a new session (so no session memo is reused) and an
  * empty Spark cache — and the cold claim is checked: every iteration
  * must run the same number of jobs and tasks. The returned
  * `Report` and the output row count are checked against recorded
  * values.
  */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import CurateCorpus._

  val fillName = "none"
  private var dir: String = _
  private var iter = 0

  def setupRep(rep: Int): (Double, Double) = {
    if (dir == null) {
      Util.copyDir(ctx.data, ctx.work.resolve("data"))
      dir = ctx.work.resolve("data").toString
    }
    val scan = Workload.warmScan(ctx, dir)
    (scan, 0.0)
  }

  def prepare(): ListMap[String, Any] =
    Util.obj("stream_ops" -> "one default curation per iteration",
      "stream_sha256" -> Util.sha256(Iterator(Expected.toString)))

  private def one(phase: String): Unit = {
    iter += 1
    val out = ctx.work.resolve(s"curated-$iter")
    ctx.spark.catalog.clearCache()
    val session = ctx.spark.newSession()
    ctx.runner.traceSession(session)
    ctx.runner.run("curate", phase) {
      CuratePipeline.curate(session, dir, out.toString)
    }(report => {
      val rows = session.read.parquet(out.toString).count()
      if (report != Expected) Some(s"report $report, recorded $Expected")
      else if (rows != Expected.nSampled) Some(s"output holds $rows rows, report says ${Expected.nSampled}")
      else None
    }, rows = _.nSampled,
      extra = () => {
        val (files, bytes) = Util.treeStats(out)
        Map("write.files" -> files.toDouble, "write.bytes" -> bytes.toDouble,
          "write.live_files" -> files.toDouble)
      },
      corrupt = Some((r: CuratePipeline.Report) => r.copy(nSampled = r.nSampled - 1)))
    ctx.spark.catalog.clearCache()
    Util.deleteTree(out)
  }

  /** One untimed curation: the first in a fresh JVM pays class
    * loading, code generation and JIT compilation, at about one and a
    * half times a warm one's time, and would otherwise dominate the
    * spread. The timed ones still start cold in program state (no memo,
    * no cache).
    */
  def warmup(): ListMap[String, Any] = {
    val (_, s) = Workload.timed(one("warmup"))
    Util.obj("warmup_ops" -> 1, "warmup_s" -> s)
  }

  /** One curation per `SecondsPerCuration` of the time given, at least
    * one, so every run, fast or slow, does the same work. With the
    * warm-up one, a run holds at least two curations for the cold
    * check to compare.
    */
  def measure(seconds: Double, phase: String): Unit =
    (1 to math.max(1, math.round(seconds / SecondsPerCuration).toInt)).foreach(_ => one(phase))

  def headline(ops: Seq[OpRecord]): Seq[Double] = Workload.latency(ops, "curate")

  def metrics(ops: Seq[OpRecord]): ListMap[String, Double] = {
    val cur = ops.filter(o => o.kind == "curate" && o.ok)
    ListMap("curate_s" -> Util.median(cur.map(_.ms / 1000)),
      "curations" -> cur.size.toDouble)
  }

  /** The cold check: every curation, the warm-up one included, ran the
    * same jobs and tasks.
    */
  override def verdict(ops: Seq[OpRecord]): (Option[String], ListMap[String, Any]) = {
    val ledger = ctx.runner.ledger
    ledger.awaitQuiet()
    val shape = ops.filter(o => o.kind == "curate" && o.ok)
      .map(o => (ledger.jobsOf(o.group).size, ledger.tasksOf(o.group))).distinct
    (if (shape.size <= 1) None else Some(s"curations were not equally cold: (jobs, tasks) = $shape"),
      Util.obj("cold_jobs_tasks" -> shape.map { case (j, t) => Seq(j, t) }))
  }
}

object CurateCorpus {
  /** About one warm curation's time on 4 cores. */
  val SecondsPerCuration = 15.0
  /** `curate(sf0.1)` with default arguments. */
  val Expected = CuratePipeline.Report(nInput = 5000, nAfterQuality = 5000,
    nAfterExactDedup = 4992, nAfterNearDedup = 4756, nAfterWinnow = 4756,
    nAfterBoilerplate = 4756, nAfterDecontam = 4706, nSampled = 4706)
}
