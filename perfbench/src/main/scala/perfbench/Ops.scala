package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One executed op: its kind, the phase it ran in, its wall interval,
  * and its verdict. A failed op (thrown, or a wrong answer) keeps its
  * error as data and never contributes a latency sample.
  */
final case class OpRecord(id: Int, kind: String, phase: String,
                          startNs: Long, endNs: Long, error: Option[String],
                          resultRows: Long, gcMs: Long,
                          extra: Map[String, Double]) {
  def ok: Boolean = error.isEmpty
  def ms: Double = (endNs - startNs) / 1e6
  def group: String = Runner.group(id)
}

/** A span recorded from the benchmark's side of a layer boundary,
  * inside (or, for `api.parse`, just before) op `opId`.
  */
final case class Span(name: String, startNs: Long, endNs: Long, opId: Int)

/** Runs ops one at a time (a closed loop with one client), each under
  * its own Spark job group, so every job, stage and task the op causes
  * is attributed to it (`ledger` counts them in every run). Spans are
  * kept only while `tracing` is on.
  */
final class Runner(spark: SparkSession, inject: Option[String]) {
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  val ledger = new JobLedger
  spark.sparkContext.addSparkListener(ledger)
  private var tracer: Option[Tracer] = None
  private var nextId = 0
  private var injected = false
  private var current = -1
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def tracing: Boolean = tracer.nonEmpty
  def nextOpId: Int = nextId
  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Turn tracing on (`Some`) or off (`None`) between ops. */
  def setTracer(t: Option[Tracer]): Unit = {
    // let the bus deliver the last traced op's events before detaching
    tracer.foreach { old => ledger.awaitQuiet(); Tracer.detach(spark, old) }
    t.foreach(Tracer.attach(spark, _))
    tracer = t
  }

  /** Register the active tracer's plan listener with another session
    * of the same context (each session has its own listener manager).
    */
  def traceSession(s: SparkSession): Unit = tracer.foreach(s.listenerManager.register)

  /** A sub-span of the running op (only recorded while tracing). */
  def span[T](name: String)(body: => T): T = {
    if (!tracing || current < 0) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, t0, System.nanoTime(), current)
    }
  }

  /** Time `body` as one op of `kind`; `check` (untimed) returns an
    * error message for a wrong answer, `rows` the op's result size.
    * With `inject` set, one op after warm-up is made to throw
    * ("throw"), or has its answer passed through `corrupt` before the
    * check ("wrong") — a self-test of the correctness gate. Returns
    * the op's value unless it threw.
    */
  def run[T](kind: String, phase: String)(body: => T)(check: T => Option[String],
      rows: T => Long = (_: T) => 0L,
      extra: () => Map[String, Double] = () => Map.empty,
      corrupt: Option[T => T] = None): Option[T] = {
    val id = nextId; nextId += 1
    val fault = inject.filter(f => !injected && phase != "warmup" &&
      (f == "throw" || corrupt.nonEmpty))
    if (fault.nonEmpty) injected = true
    val sc = spark.sparkContext
    sc.setJobGroup(Runner.group(id), kind, interruptOnCancel = false)
    current = id
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val out: Either[Throwable, T] =
      try {
        if (fault.contains("throw"))
          throw new IllegalStateException("injected failure (--inject throw)")
        Right(body)
      } catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val gcDelta = gcMillis() - gc0
    current = -1
    sc.clearJobGroup()
    val (err, n) = out match {
      case Left(e) => (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)), 0L)
      case Right(v) =>
        val verdict =
          try check(if (fault.contains("wrong")) corrupt.get(v) else v)
          catch { case e: Throwable if scala.util.control.NonFatal(e) =>
            Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
        (verdict.map(m => s"wrong answer: $m"), rows(v))
    }
    val ex = try extra() catch { case _: Exception => Map.empty[String, Double] }
    ops += OpRecord(id, kind, phase, t0, t1, err, n, gcDelta, ex)
    out.toOption
  }

  def failures: Seq[OpRecord] = ops.filterNot(_.ok).toSeq
}

object Runner {
  def group(id: Int): String = s"perfbench-op-$id"
}
