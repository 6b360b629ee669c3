package graft

/** `Tables` infers each table's schema once per session and file set:
  * a repeated read runs no job, and a table rewritten in place is seen
  * by the next call.
  */
class TablesSpec extends SparkSpecBase {

  /** Jobs `body` started. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "tables-spec"
    jobGroupsOf {
      sc.setJobGroup(group, "tables")
      try body finally sc.clearJobGroup()
    }._2.count(_ == group)
  }

  test("a second read of a table in a session runs no job; a rewrite in place is seen") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec-").toString
    try {
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      assert(jobsDuring(Tables.documents(spark, dir)) >= 1, "the first read infers no schema")
      assert(jobsDuring(Tables.documents(spark, dir)) == 0)
      val (a, b) = (Tables.documents(spark, dir), Tables.documents(spark, dir))
      // fresh attribute ids per call: two reads self-join like two spark.read calls
      assert(a.join(b, a("doc_id") === b("doc_id")).count() == 2)
      Seq((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "fr")).toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val again = Tables.documents(spark, dir)
      assert(again.columns.toSeq == Seq("doc_id", "text", "lang"))
      assert(again.count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
