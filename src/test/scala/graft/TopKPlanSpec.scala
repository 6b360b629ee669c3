package graft

import graft.operators.Relational
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TopKPlanSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("key", StringType, nullable = true),
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  /** `n` rows over `parts` input partitions: a few keys (one of them
    * null, one holding only two rows), scores from a small set (ties,
    * broken by id), with NaN and null scores mixed in.
    */
  private def relation(n: Int, parts: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = rnd.shuffle((0 until n).toList).map { i =>
      val key = if (i < 2) "pair" else rnd.nextInt(5) match {
        case 0 => null
        case v => s"k$v"
      }
      val score: Any = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Double.NaN
        case v => (v % 4) * 0.25
      }
      Row(key, i.toLong, score)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def reference(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy("key").orderBy(order: _*)).cast("long"))
      .filter(col("rank") <= k)
      .select((col("rank") +: df.columns.toSeq.map(col)): _*)

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private val orders = Seq(
    "score desc, id asc" -> Seq(col("score").desc, col("id").asc),
    "score asc, id desc" -> Seq(col("score").asc, col("id").desc))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  test("TopK.perKey matches the window row_number formulation") {
    val fast = Relational.topkPerGroupFast(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val window = Relational.topkPerGroup(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(fast === window)
    assert(fast.nonEmpty)
  }

  test("TopKPerKey plans as partial heap -> exchange -> final heap") {
    val df = TopK.perKey(Tables.orders(spark, sf),
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc), k = 3)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // final (partial=false) above the exchange, partial (=true) below it;
    // first occurrences land in AQE's "Final Plan" section
    val finalIdx = plan.indexOf(", false")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val partialIdx = plan.indexOf(", true")
    assert(finalIdx >= 0 && exchangeIdx >= 0 && partialIdx >= 0, plan)
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx, plan)
  }

  test("TopK.perKey is exact on a skewed key distribution") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i))
      .toDF("key", "v")
    val got = TopK.perKey(df, Seq(col("key")), Seq(col("v").desc), k = 2)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Int]("v"))).toSet
    val expected = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i))
      .groupBy(_._1).toSeq.flatMap { case (_, vs) => vs.sortBy(-_._2).take(2) }.toSet
    assert(got === expected)
  }

  test("perKey rank ≡ row_number per key: partitions, AQE, ties, NaN and null, k past a key's size") {
    val n = 60
    for (aqe <- Seq(true, false); parts <- Seq(1, 3, 7); (oName, order) <- orders) {
      withAqe(aqe) {
        val df = relation(n, parts, seed = parts * 17 + (if (aqe) 1 else 0))
        for (k <- Seq(1, 4, n + 5)) {
          val clue = s"aqe=$aqe parts=$parts order=$oName k=$k"
          val got = TopK.perKey(df, Seq(col("key")), order, k)
          val want = rows(reference(df, order, k))
          assert(rows(got) === want, clue)
          assert(got.count() === want.size, clue)
          // the two-row key keeps both rows once k passes its size
          assert(got.filter(col("key") === "pair").count() === math.min(k, 2), clue)
        }
      }
    }
  }

  test("perKey rows lead with rank: LONG NOT NULL, then the input's columns") {
    val got = TopK.perKey(relation(10, 3, 7L), Seq(col("key")), orders.head._2, 3)
    assert(got.columns.toSeq === Seq("rank", "key", "id", "score"))
    assert(got.schema("rank").dataType === LongType && !got.schema("rank").nullable)
  }

  test("perKey over empty input ranks no rows, through collect and count") {
    for (aqe <- Seq(true, false); parts <- Seq(1, 3)) withAqe(aqe) {
      val got = TopK.perKey(relation(0, parts, 1L), Seq(col("key")), orders.head._2, 5)
      assert(got.collect().isEmpty && got.count() === 0, s"aqe=$aqe parts=$parts")
    }
  }
}
