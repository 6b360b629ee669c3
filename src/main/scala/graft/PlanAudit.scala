package graft

/** Dumps the formatted physical plan of selected SparkEntry queries —
  * the scale-review loop: check pushdown (PushedFilters/ReadSchema),
  * join strategies (broadcast vs SMJ), codegen spans, exchange count.
  * Usage: runMain graft.PlanAudit <sfDir> [name1,name2,...]
  *
  * This is the human-eyeball CLI; the same checks as MACHINE-READABLE
  * lint rows (cartesian/shuffle budgets, scan metadata counts) are
  * [[graft.api.PlanAudit.audit]] — prefer that for CI gates.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    spark.stop()
  }
}
