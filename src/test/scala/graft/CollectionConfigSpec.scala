package graft

import graft.api.{CollectionConfig, VectorIndex}
import org.apache.spark.sql.functions._

/** `create_collection` as data (the reference's own create flow —
  * insert.py:70-73, test_qdrant.py:106-134): config parse + refusals,
  * the four distance metrics ranking through VectorIndex.search, the
  * init_from copy-then-add update flow, and the build-time dimension
  * validation.
  */
class CollectionConfigSpec extends SparkSpecBase {

  private def pts = Tables.points(spark, sf)

  test("parse: single and named vector configs; loud refusals") {
    val single = CollectionConfig.fromJson(
      """{"vectors": {"size": 64, "distance": "Euclid"}}""")
    assert(single.vectors ===
      Map("" -> CollectionConfig.VectorParams(64, "Euclid")))
    val named = CollectionConfig.fromJson(
      """{"vectors": {"title": {"size": 8, "distance": "Cosine"},
        |             "body": {"size": 64, "distance": "Dot"}},
        | "shard_number": 16}""".stripMargin)
    assert(named.vectors.keySet === Set("title", "body") &&
      named.shardNumber === Some(16))
    // init_from in both wire forms
    assert(CollectionConfig.fromJson(
      """{"vectors": {"size": 4, "distance": "Cosine"},
        | "init_from": "old"}""".stripMargin).initFrom === Some("old"))
    assert(CollectionConfig.fromJson(
      """{"vectors": {"size": 4, "distance": "Cosine"},
        | "init_from": {"collection": "old"}}""".stripMargin)
      .initFrom === Some("old"))
    // refusals: unserved members name their served analogue, bad
    // distance/size refuse, hnsw knobs inside a head refuse
    val e1 = intercept[IllegalArgumentException](CollectionConfig.fromJson(
      """{"vectors": {"size": 4, "distance": "Cosine"},
        | "hnsw_config": {"m": 16}}""".stripMargin))
    assert(e1.getMessage.contains("hnsw"))
    intercept[IllegalArgumentException](CollectionConfig.fromJson(
      """{"vectors": {"size": 4, "distance": "Hamming"}}"""))
    intercept[IllegalArgumentException](CollectionConfig.fromJson(
      """{"vectors": {"size": 0, "distance": "Cosine"}}"""))
    intercept[IllegalArgumentException](CollectionConfig.fromJson(
      """{"vectors": {"size": 4, "distance": "Cosine", "on_disk": true}}"""))
    // a size or shard_number past Int's range refuses: Jackson's asInt
    // would wrap 2^32 + 64 and 2^32 + 16 to 64 and 16
    for (json <- Seq(
        """{"vectors": {"size": 4294967360, "distance": "Cosine"}}""",
        """{"vectors": {"title": {"size": 4294967304, "distance": "Dot"}}}""",
        """{"vectors": {"size": 64, "distance": "Cosine"}, "shard_number": 4294967312}""",
        """{"vectors": {"size": 2.5, "distance": "Cosine"}}""")) {
      val e = intercept[IllegalArgumentException](CollectionConfig.fromJson(json))
      assert(e.getMessage.contains("2147483647"), s"$json: ${e.getMessage}")
    }
    assert(CollectionConfig.fromJson(
      """{"vectors": {"size": 2147483647, "distance": "Cosine"}, "shard_number": 1}""")
      .vectors("").size === Int.MaxValue)
  }

  test("the four metrics rank through VectorIndex.search (Euclid ≡ the default)") {
    val idx = VectorIndex(pts)
    val q = pts.filter(col("id") === 0).select("vector")
      .head.getSeq[Double](0)
    def cfgFor(dist: String) = CollectionConfig.fromJson(
      s"""{"vectors": {"size": ${q.length}, "distance": "$dist"}}""")
    // Euclid config = the library default metric, row for row
    assert(idx.search(q, 7, 5, metric = cfgFor("Euclid").metric())
      .collect().toSeq === idx.search(q, 7, 5).collect().toSeq)
    // Cosine distance ascending ≡ cosine similarity descending
    val cosIds = idx.search(q, 7, 5, metric = cfgFor("Cosine").metric())
      .collect().map(_.getLong(1)).toSeq
    val bySim = pts.filter(col("user_id") === 7)
      .withColumn("cs", graft.functions.Vectors.cosineSim(
        lit(q.toArray), col("vector")))
      .orderBy(col("cs").desc, col("id").asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(cosIds === bySim)
    // Dot distance ascending ≡ dot product descending (the topk_dot row)
    val dotIds = idx.search(q, 7, 5, metric = cfgFor("Dot").metric())
      .collect().map(_.getLong(1)).toSeq
    val byDot = operators.VectorStore.searchTopKDot(spark, sf)
      .collect().map(_.getLong(1)).toSeq
    assert(dotIds === byDot)
    // Manhattan is the l1 kernel
    val l1Ids = idx.search(q, 7, 5, metric = cfgFor("Manhattan").metric())
      .collect().map(_.getLong(1)).toSeq
    val byL1 = pts.filter(col("user_id") === 7)
      .withColumn("d", graft.functions.Vectors.l1Distance(
        lit(q.toArray), col("vector")))
      .orderBy(col("d").asc, col("id").asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(l1Ids === byL1)
    // an undeclared head refuses at metric lookup
    intercept[IllegalArgumentException](cfgFor("Euclid").metric("title"))
  }

  test("init_from copies the source, then upserts add (the reference's update flow)") {
    val dim = pts.select(size(col("vector"))).head.getInt(0)
    val src = VectorIndex(pts.filter(col("id") < 100))
    val cfg = CollectionConfig.fromJson(
      s"""{"vectors": {"size": $dim, "distance": "Euclid"},
         | "init_from": {"collection": "old"}}""".stripMargin)
    val created = CollectionConfig.create(spark, cfg, Some(src))
    val grown = created.upsert(
      pts.filter(col("id") >= 100 && col("id") < 120))
    assert(grown.points.count() === src.points.count() + 20)
    // a fresh (no init_from) collection starts empty and fills by upsert
    val fresh = CollectionConfig.create(spark, CollectionConfig.fromJson(
      s"""{"vectors": {"size": $dim, "distance": "Euclid"}}"""))
    assert(fresh.points.count() === 0)
    assert(fresh.upsert(pts.filter(col("id") < 10)).points.count() === 10)
    // config and resolved handle must agree both ways
    intercept[IllegalArgumentException](CollectionConfig.create(spark, cfg, None))
    intercept[IllegalArgumentException](CollectionConfig.create(spark,
      cfg.copy(initFrom = None), Some(src)))
  }

  test("validate is one aggregate: declared sizes enforced, nulls and extras tolerated") {
    val dim = pts.select(size(col("vector"))).head.getInt(0)
    def cfg(sz: Int) = CollectionConfig.fromJson(
      s"""{"vectors": {"size": $sz, "distance": "Euclid"}}""")
    cfg(dim).validate(pts) // exact size passes
    val e = intercept[IllegalArgumentException](cfg(dim + 1).validate(pts))
    assert(e.getMessage.contains(s"size $dim"))
    // a null-vector row does not fail the size check (has_vector rows)
    cfg(dim).validate(pts.withColumn("vector",
      when(col("id") === 3, lit(null)).otherwise(col("vector"))))
    // a named head missing from the batch refuses by name
    val named = CollectionConfig.fromJson(
      s"""{"vectors": {"title": {"size": 8, "distance": "Cosine"}}}""")
    val e2 = intercept[IllegalArgumentException](named.validate(pts))
    assert(e2.getMessage.contains("title"))
    named.validate(pts.withColumn("title", slice(col("vector"), 1, 8)))
  }
}
