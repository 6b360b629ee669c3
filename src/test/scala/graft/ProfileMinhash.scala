package graft

import org.apache.spark.sql.functions._

/** Scratch profiling harness (test scope, not shipped): times the
  * minhashPairs fill stages in isolation at a given SF — decomposes the
  * `dedup_pairs_warm` bench pseudo-line.
  */
object ProfileMinhash {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }
    val (w, bands, rows, t) = (5, 32, 4, 0.8)
    timed("docs count")(Tables.documents(spark, d).count())
    val ex = operators.Dedup.shingleRows(Tables.documents(spark, d), w, distinct = false)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .cache()
    timed("shingle+hash+cache")(ex.count())
    val P = 2147483647L
    val sigs = operators.Dedup.minhashFromHashedRows(
      ex.select(col("doc_id"), pmod(col("h"), lit(P)).as("h")), bands * rows).cache()
    timed("minhash 128-perm agg")(sigs.count())
    val buckets = operators.Dedup.bandBuckets(sigs, bands, rows).cache()
    timed("band buckets")(buckets.count())
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .distinct().cache()
    timed("candidate pairs")(cand.count())
    val candDocs = cand.select(col("ia").as("doc_id"))
      .union(cand.select(col("ib").as("doc_id"))).distinct()
    val docArrs = ex.join(broadcast(candDocs), "doc_id")
      .groupBy("doc_id").agg(array_sort(collect_set(col("h"))).as("hs"))
    timed("verify join+score") {
      cand
        .join(docArrs.select(col("doc_id").as("ia"), col("hs").as("ha")), "ia")
        .join(docArrs.select(col("doc_id").as("ib"), col("hs").as("hb")), "ib")
        .withColumn("jaccard", graft.functions.Vectors.jaccardSorted(col("ha"), col("hb")))
        .filter(col("jaccard") >= t).count()
    }
    timed("full minhashPairs (memo)")(operators.Dedup.minhashPairs(spark, d).count())
    spark.stop()
  }
}
