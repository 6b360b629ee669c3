package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in hand-written SQL would otherwise
    * make a reader's json.load fail and silently empty the
    * correctness report.
    */
  private[graft] def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.local(Sessions.cores(4))
    new java.io.File(outDir).mkdirs()
    val oracle = SparkEntry.oracleSql
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    // Write the oracle BEFORE running any query: if this JVM dies mid-run
    // (OOM / external timeout), the driver's compare still sees every
    // query dumped so far instead of an empty report (round-2's
    // CORRECTNESS was `{}` — consistent with a dead run, not failures).
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle)
    // failed queries are DATA: failures.json (name → error) lands in
    // the output dir beside the dumps, rewritten after every failure so
    // a run that dies later still leaves the manifest of what failed
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def writeFailures(): Unit = Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}"))
    writeFailures()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = String.valueOf(e)
        writeFailures()
      }
      // ContextCleaner drains dead broadcast blocks only after a GC; a
      // 140-query session on a pinned ParallelGC heap can starve
      // execution memory before one happens (see Bench's note). Collect
      // between queries under heap pressure — nothing is timed here.
      val rt = Runtime.getRuntime
      if (rt.totalMemory - rt.freeMemory > (rt.maxMemory * 2) / 5) System.gc()
    }
    spark.stop()
  }
}
