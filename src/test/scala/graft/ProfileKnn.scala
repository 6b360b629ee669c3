package graft

import org.apache.spark.sql.functions._

/** Scratch profiling harness (test scope, not shipped): times the
  * NN-descent build stages in isolation at a given SF.
  */
object ProfileKnn {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(16)
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }
    import graft.functions.Vectors._
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec")).cache()
    timed("corpus count")(emb.count())
    val lists = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    timed("kmeans 3 iters") {
      operators.Ann.kmeansCentroids(emb, lists, 3).size.toLong
    }
    val cents = operators.Ann.kmeansCentroids(emb, lists, 3)
    val posts = emb.select(col("vec_id"),
      explode(slice(array_sort(operators.Ann.centroidStructs(col("vec"), cents)), 1, 2)
        .getField("cid")).as("cid"))
    timed("posts count")(posts.count())
    timed("ringInitPairs")(operators.Ann.ringInitPairs(posts, 40).count())
    timed("ringInitPairs again")(operators.Ann.ringInitPairs(posts, 40).count())
    timed("full descend k=10 r=2") {
      operators.Ann.descendEdges(emb, cents, 10, 2, 40).count()
    }
    spark.stop()
  }
}

object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(16)
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }
    val docs = Tables.documents(spark, d)
    timed("docs count")(docs.count())
    val ex = operators.Dedup.shingleRows(docs, 5)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).cache()
    timed("ex count")(ex.count())
    timed("ex count warm")(ex.count())
    timed("hot grams")(ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1024).count())
    timed("ngramJaccard run1")(operators.Dedup.ngramJaccard(spark, d).count())
    timed("ngramJaccard run2")(operators.Dedup.ngramJaccard(spark, d).count())
    timed("containment run1")(operators.Dedup.containment(spark, d).count())
    spark.stop()
  }
}

object ProfileDedup2 {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(16)
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }
    val ex = operators.Dedup.shingleRows(Tables.documents(spark, d), 5)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).cache()
    timed("ex fill")(ex.count())
    val hot = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1024).select("h")
    val cold = ex.join(broadcast(hot), Seq("h"), "left_anti")
    timed("cold count")(cold.count())
    val cCold = cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("c_cold"))
    timed("cCold pairs")(cCold.count())
    timed("cCold pairs again")(cCold.count())
    val raw = cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
    timed("raw join rows")(raw.count())
    spark.stop()
  }
}

object ProfileDescend {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }
    import graft.functions.Vectors._
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec")).cache()
    emb.count()
    val cents = operators.Ann.kmeansCentroids(emb, 45, 3)
    timed("descend rounds=0")(operators.Ann.descendEdges(emb, cents, 10, 0, 40).count())
    timed("descend rounds=1")(operators.Ann.descendEdges(emb, cents, 10, 1, 40).count())
    timed("descend rounds=2")(operators.Ann.descendEdges(emb, cents, 10, 2, 40).count())
    spark.stop()
  }
}
