package perfbench

import graft.Tables
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.immutable.ListMap

/** What every workload gets from `Main`. `data` holds the sf0.1
  * tables; `work` is this run's scratch directory inside the checkout.
  */
final case class Ctx(spark: SparkSession, runner: Runner, seed: Long,
                     data: Path, work: Path)

/** One benchmark workload. `Main` calls `setupRep` several times
  * (each a full repetition of the program's set-up: warm scan plus the
  * workload's artifact fill), then `prepare` (the benchmark's own
  * untimed work: collecting the reference copy, generating the seeded
  * stream), `warmup`, and `measure` once per timed phase.
  */
trait Workload {
  /** Name of the workload's set-up fill (beside the warm scan). */
  def fillName: String
  /** One set-up repetition: (warm scan seconds, fill seconds). */
  def setupRep(rep: Int): (Double, Double)
  /** Untimed benchmark-side preparation; returns stream facts. */
  def prepare(): ListMap[String, Any]
  /** Untimed warm-up; returns what it did. */
  def warmup(): ListMap[String, Any]
  /** Run the timed ops sized to take about `seconds`, under `phase`. */
  def measure(seconds: Double, phase: String): Unit
  /** The workload's own end-to-end metrics over its timed ops. */
  def metrics(ops: Seq[OpRecord]): ListMap[String, Double]
  /** The latencies (ms) behind the headline `op_*` metrics. */
  def headline(ops: Seq[OpRecord]): Seq[Double]
  /** A run-level correctness problem beyond the per-op checks (over
    * all ops, warm-up included), plus details for the report.
    */
  def verdict(ops: Seq[OpRecord]): (Option[String], ListMap[String, Any]) = (None, ListMap.empty)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "tenant_search" => new TenantSearch(ctx)
    case "curate_corpus" => new CurateCorpus(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (tenant_search | curate_corpus)")
  }

  /** Latencies (ms) of the successful ops of one kind. */
  def latency(ops: Seq[OpRecord], kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok).map(_.ms)

  /** The warm scan of a set-up repetition: both tables, counted; seconds. */
  def warmScan(ctx: Ctx, dir: String): Double =
    timed { Tables.documents(ctx.spark, dir).count(); Tables.embeddings(ctx.spark, dir).count() }._2

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}
