package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The environment stamp every result carries: cores used, `nproc`,
  * heap, load average at start, foreign JVMs on the box and commit (the
  * seed sits beside it in the report). A run is flagged contended when
  * another JVM is live or the one-minute load average at start exceeds
  * the core count (back-to-back runs leave a load average near the
  * core count behind them, so a lower threshold would flag every run).
  */
final case class Env(cores: Int, nproc: Int, heapMaxMb: Double,
                     loadavgStart: Double, foreignJvms: Seq[Long],
                     commit: String, sourceHash: String) {
  def contended: Boolean = foreignJvms.nonEmpty || loadavgStart > nproc

  def toMap: Map[String, Any] = Util.obj(
    "cores_used" -> cores, "nproc" -> nproc, "heap_max_mb" -> heapMaxMb,
    "loadavg_start" -> loadavgStart, "foreign_jvms" -> foreignJvms.size,
    "foreign_jvm_pids" -> foreignJvms, "contended" -> contended,
    "commit" -> commit, "source_hash" -> sourceHash)
}

object Env {
  def capture(cores: Int, commit: String, sourceHash: String): Env =
    Env(cores, Runtime.getRuntime.availableProcessors(),
      Runtime.getRuntime.maxMemory / 1048576.0, loadavg(), foreignJvms(),
      commit, sourceHash)

  /** The machine's CPU time counters since boot: (steal, total), in
    * ticks, from the first line of /proc/stat; (0, 0) where there is none.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** The share of the machine's CPU time since `from` that the
    * hypervisor gave to others while this VM wanted it (steal).
    */
  def stealShareSince(from: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** JVMs (or sbt launchers) other than this process and its ancestors. */
  private def foreignJvms(): Seq[Long] =
    try {
      var own = Set.empty[Long]
      var h = java.util.Optional.of(ProcessHandle.current())
      while (h.isPresent) { own += h.get.pid(); h = h.get.parent() }
      val procs = Files.list(Paths.get("/proc"))
      try procs.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .filterNot(own).filter { pid =>
          try {
            val cmd = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/cmdline")))
            cmd.contains("java") || cmd.contains("sbt-launch")
          } catch { case _: Exception => false }
        }.toSeq.sorted
      finally procs.close()
    } catch { case _: Exception => Nil }
}
