package graft

import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `TopK.ranked` ≡ the DataFrame rank tail it replaces —
  * `orderBy → limit(offset+k) → row_number over partitionBy(lit(0)) →
  * rank > offset → orderBy(rank)` — on random relations, through a
  * collect and through consumers that execute it as a child (count, a
  * join, a coalesced write).
  */
class RankedTopKSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true),
    StructField("tag", StringType, nullable = false)))

  /** `n` rows over `parts` input partitions: scores from a small set
    * (ties, broken by id), with NaN and null scores mixed in.
    */
  private def relation(n: Int, parts: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = rnd.shuffle((0 until n).toList).map { i =>
      val score: Any = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Double.NaN
        case v => (v % 4) * 0.25
      }
      Row(i.toLong, score, s"t${i % 3}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def reference(df: DataFrame, order: Seq[Column], offset: Int, k: Int): DataFrame =
    df.orderBy(order: _*).limit(offset + k)
      .withColumn("rank", row_number().over(Window.partitionBy(lit(0)).orderBy(order: _*))
        .cast("long"))
      .filter(col("rank") > offset)
      .select((col("rank") +: df.columns.toSeq.map(col)): _*)
      .orderBy("rank")

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private val orders = Seq(
    "score desc, id asc" -> Seq(col("score").desc, col("id").asc),
    "score asc, id desc" -> Seq(col("score").asc, col("id").desc))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("ranked ≡ the window rank tail: partitions, AQE, offsets, ties, NaN and null") {
    val n = 40
    // (offset, k): first page, a later page, k past the row count, a
    // page that runs off the end, a page wholly past the end
    val pages = Seq((0, 5), (3, 4), (0, n + 5), (n - 2, 10), (n + 3, 2))
    for (aqe <- Seq(true, false); parts <- Seq(1, 3, 7); (oName, order) <- orders) {
      withAqe(aqe) {
        val df = relation(n, parts, seed = parts * 31 + (if (aqe) 1 else 0))
        for ((offset, k) <- pages) {
          val clue = s"aqe=$aqe parts=$parts order=$oName offset=$offset k=$k"
          val want = rows(reference(df, order, offset, k))
          val got = TopK.ranked(df, order, offset, k)
          assert(rows(got) === want, clue)
          assert(want.size === math.max(0, math.min(n - offset, k)), clue)
          assert(got.count() === want.size, clue)
        }
      }
    }
  }

  test("ranked keeps the rank tail's schema: rank LONG NOT NULL first") {
    val got = TopK.ranked(relation(10, 3, 7L), orders.head._2, 0, 3)
    assert(got.columns.toSeq === Seq("rank", "id", "score", "tag"))
    assert(got.schema("rank").dataType === LongType && !got.schema("rank").nullable)
  }

  test("offset + k past Int's range refuses: the exec keeps offset + k rows in an Int") {
    val df = relation(10, 3, 7L)
    val e = intercept[IllegalArgumentException](
      TopK.ranked(df, orders.head._2, Int.MaxValue, 1))
    assert(e.getMessage.contains("offset + k"))
    assert(rows(TopK.ranked(df, orders.head._2, Int.MaxValue - 5, 5)).isEmpty)
  }

  test("empty input ranks no rows, through collect and count") {
    for (aqe <- Seq(true, false); parts <- Seq(1, 3)) withAqe(aqe) {
      val empty = relation(0, parts, 1L)
      val got = TopK.ranked(empty, orders.head._2, 2, 5)
      assert(rows(got).isEmpty && got.count() === 0, s"aqe=$aqe parts=$parts")
    }
  }

  test("a collect runs one job in the caller's job group, also over zero input partitions") {
    val sc = spark.sparkContext
    val group = "ranked-topk-collect"
    // a tenant no zone covers: the index read's prune selects no
    // directory, so the scan has no partition at all
    val q = Tables.points(spark, sf).filter(col("id") === 1).select("vector").head().getSeq[Double](0)
    def request(tenant: Long): DataFrame = graft.operators.VectorStore.pointsQuery(spark, sf,
      s"""{"query": {"nearest": [${q.mkString(", ")}]}, "filter": {"must":
        |[{"key": "user_id", "match": {"value": $tenant}}]}, "limit": 5}""".stripMargin)
    request(3L).collect() // fill the payload index
    val cases = Seq(
      "an index read that prunes every directory" -> request(1000000L),
      "an empty RDD" -> TopK.ranked(spark.createDataFrame(sc.emptyRDD[Row], schema),
        orders.head._2, 0, 5),
      "a tenant's index read" -> request(3L))
    for ((name, df) <- cases) {
      val input = df.queryExecution.executedPlan.children.head.execute().getNumPartitions
      assert((input == 0) == (name != "a tenant's index read"), s"$name: $input partitions")
      val (got, groups) = jobGroupsOf {
        sc.setJobGroup(group, name)
        try df.collect() finally sc.clearJobGroup()
      }
      assert(got.isEmpty == (input == 0), s"$name: ${got.toSeq}")
      assert(groups == Seq(group), s"$name: jobs in groups $groups")
    }
  }

  test("non-collect consumers execute the operator as a child: a join and a coalesced write") {
    val dir = java.nio.file.Files.createTempDirectory("ranked-topk-").toString
    try {
      for (aqe <- Seq(true, false); parts <- Seq(1, 3, 7)) withAqe(aqe) {
        val clue = s"aqe=$aqe parts=$parts"
        val df = relation(40, parts, 100L + parts)
        val order = orders.head._2
        val (got, want) = (TopK.ranked(df, order, 2, 6), reference(df, order, 2, 6))
        val tags = df.select(col("id").as("tid"), upper(col("tag")).as("utag"))
        def joined(r: DataFrame): Seq[Row] =
          rows(r.join(tags, col("id") === col("tid"))
            .select("rank", "id", "utag").orderBy("rank"))
        assert(joined(got) === joined(want), clue)
        val out = s"$dir/$aqe-$parts"
        got.coalesce(1).write.parquet(out)
        assert(rows(spark.read.parquet(out).orderBy("rank")) === rows(want), clue)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
