package graft

import graft.api.VectorIndex
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpecBase {

  private def index = VectorIndex(Tables.points(spark, sf))

  test("upsert is last-write-wins by id") {
    val base = index
    val updates = base.points.filter(col("id") < 10)
      .withColumn("seq", col("seq") + 100)
      .withColumn("text", lit("updated"))
    val merged = base.upsert(updates)
    assert(merged.points.count() === base.points.count())
    assert(merged.points.filter(col("id") < 10 && col("text") =!= "updated").count() === 0)
  }

  test("retrieve returns exactly the requested points in id order") {
    val got = index.retrieve(Seq(5L, 1L, 3L)).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L))
    val all = index.points.filter(col("id").isin(1L, 3L, 5L)).count()
    assert(got.length.toLong === all)
  }

  test("search returns k nearest within the tenant, euclidean ascending") {
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    val r = index.search(q, userId = 7, k = 5).collect()
    assert(r.length === 5)
    val scores = r.map(_.getDouble(3))
    assert(scores.toSeq === scores.sorted.toSeq)
    // same answer as the low-level operator
    val expected = graft.operators.VectorStore.searchTopK(spark, sf)
      .collect().map(_.getLong(1)).toSeq
    assert(r.map(_.getLong(1)).toSeq === expected)
  }

  test("search, searchFilter and recommend keep their INT rank; the group rank stays LONG") {
    import graft.api.Filters.{MatchValue, PFilter}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    for (df <- Seq(index.search(q, userId = 7, k = 5),
        index.searchFilter(q, PFilter(must = Seq(MatchValue("lang", "en"))), k = 5),
        index.recommend(Seq(1L, 2L), Seq(6L), k = 5))) {
      assert(df.columns.toSeq === Seq("rank", "id", "string", "score"))
      assert(df.schema("rank").dataType === IntegerType && !df.schema("rank").nullable,
        df.schema)
      assert(df.collect().map(_.getInt(0)).toSeq === (1 to 5))
    }
    val groups = index.searchGroups(q).schema("group_rank")
    assert(groups.dataType === LongType && !groups.nullable, groups)
  }

  test("discover agrees with the operator ranking and scopes to the tenant") {
    val got = index.discover(targetId = 0, pairs = Seq((1L, 2L), (3L, 4L)))
      .collect()
    // same candidate set and order as the driver-checked operator (the
    // operator ranks on 4dp-rounded scores; agreement on ids tolerates
    // only boundary flips, absent on this corpus)
    val op = graft.operators.VectorStore.discover(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(got.map(_.getLong(0)).toSeq === op)
    // ctx_score is non-positive and non-increasing down the ranking
    val ctx = got.map(_.getDouble(2)).toSeq
    assert(ctx.forall(_ <= 1e-12) && ctx === ctx.sorted.reverse)
    // tenant scoping prunes the corpus
    val scoped = index.discover(0, Seq((1L, 2L)), k = 100, userId = Some(7))
    assert(scoped.count() <=
      Tables.points(spark, sf).filter(col("user_id") === 7).count())
  }

  test("site/lang filters narrow the search scope") {
    val q = Seq.fill(64)(0.1)
    val all = index.search(q, userId = 3, k = 100).count()
    val en = index.search(q, userId = 3, k = 100, lang = Some("en")).count()
    assert(en <= all)
  }

  test("deletes compose and only touch the targeted tenant") {
    val after = index.deleteByWord(3, "batch").deleteByRegex(4, "key (scan|sort)")
      .deleteByUser(5)
    assert(after.points.filter(col("user_id") === 5).count() === 0)
    assert(after.points.filter(col("user_id") === 3 && col("text").contains("batch")).count() === 0)
    // tenant 6 untouched
    assert(after.points.filter(col("user_id") === 6).count() ===
      index.points.filter(col("user_id") === 6).count())
  }

  test("save/load round-trips with bucket pruning for tenant queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vi").toString
    index.save(dir, nBuckets = 8)
    val re = VectorIndex.load(spark, dir)
    assert(re.points.count() === index.points.count())
    // the tenant filter must reach the scan as a pushed/partition filter
    val plan = re.points.filter(col("user_id") === 7).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("PartitionFilters"))
  }

  test("fromTexts + searchText: a document's own text retrieves it at rank 1") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), (col("doc_id") % 20).as("user_id"),
        col("source").as("site"), col("lang"))
    val index = VectorIndex.fromTexts(docs)
    assert(index.points.count() === docs.count())
    val probe = docs.filter(col("doc_id") === 13).head()
    val hits = index.searchText(probe.getString(1), userId = 13 % 20, k = 3).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getLong(1) === 13L, s"self-retrieval failed: ${hits.toSeq}")
    assert(hits.head.getDouble(3) < 1e-9) // identical text → distance 0
  }

  test("embedder seam: a custom model drives fromTexts AND searchText identically") {
    // 4-dim character-statistics model — structurally nothing like the
    // 64-dim feature-hash default, so the assertions below can only
    // pass if BOTH the corpus build and the query path went through
    // the plugged-in embedder
    object CharStatsEmbedder extends graft.api.Embedder {
      override def embed(docs: org.apache.spark.sql.DataFrame) =
        docs.select(col("doc_id"),
          graft.functions.Vectors.normalize(array(
            length(col("text")).cast("double"),
            (length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", ""))).cast("double"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("double"),
            (length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", ""))).cast("double")
          )).as("embedding"))
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), (col("doc_id") % 20).as("user_id"),
        col("source").as("site"), col("lang"))
    val index = VectorIndex.fromTexts(docs, CharStatsEmbedder)
    // corpus vectors come from the custom model (4 dims, not 64)
    assert(index.points.select(size(col("vector"))).head().getInt(0) === 4)
    val probe = docs.filter(col("doc_id") === 13).head()
    val hits = index.searchText(probe.getString(1), userId = 13 % 20, k = 3).collect()
    // identical text → identical 4-dim vector → distance 0 at rank 1;
    // holds only when the query embeds with the same custom model
    assert(hits.nonEmpty && hits.head.getDouble(3) < 1e-9,
      s"custom-embedder self-retrieval failed: ${hits.toSeq}")
  }

  test("content-addressed fromTexts collapses duplicate texts, last writer wins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the same text", 5L, "a", "en"),
      (2L, "another text", 5L, "a", "en"),
      (3L, "the same text", 7L, "b", "en") // dup of doc 1, later writer
    ).toDF("doc_id", "text", "user_id", "site", "lang")
    val idx = VectorIndex.fromTexts(docs, contentAddressed = true)
    // 3 docs, 2 distinct texts → 2 points (uuid3-of-text upsert
    // semantics from the reference's test_qdrant.py)
    assert(idx.points.count() === 2)
    val dup = idx.points.filter(col("text") === "the same text").collect()
    assert(dup.length === 1)
    // last writer (highest seq = doc_id 3) owns the point
    assert(dup.head.getAs[Long]("seq") === 3L)
    assert(dup.head.getAs[Long]("user_id") === 7L)
    // ids are content hashes: re-building from a disjoint doc_id range
    // with the same text yields the SAME point id
    val again = VectorIndex.fromTexts(
      Seq((100L, "the same text", 9L, "c", "en")).toDF("doc_id", "text", "user_id", "site", "lang"),
      contentAddressed = true)
    assert(again.points.head().getAs[Long]("id") === dup.head.getAs[Long]("id"))
  }

  test("scroll pages the collection exactly once in id order") {
    val idx = index
    val all = idx.points.select("id").collect().map(_.getLong(0)).sorted
    var cursor = -1L
    var seen = Vector.empty[Long]
    var page = idx.scroll(cursor, 7).collect().map(_.getLong(0))
    while (page.nonEmpty) {
      assert(page.toSeq === page.sorted.toSeq)
      seen ++= page
      cursor = page.last
      page = idx.scroll(cursor, 7).collect().map(_.getLong(0))
    }
    assert(seen.toSeq === all.toSeq) // every point exactly once, in order
  }

  test("recommend matches the operator and excludes example points") {
    val r = index.recommend(posIds = Seq(1L, 2L, 3L, 4L, 5L), negIds = Seq(6L, 7L, 8L))
      .collect()
    assert(r.length === 10)
    assert(r.forall(row => row.getLong(1) < 1 || row.getLong(1) > 8))
    val expected = graft.operators.VectorStore.recommend(spark, sf)
      .collect().map(_.getLong(1)).toSeq
    assert(r.map(_.getLong(1)).toSeq === expected)
  }

  test("recommend with only positives ranks by similarity to their mean") {
    val pos = Seq(10L)
    val r = index.recommend(posIds = pos, k = 3).collect()
    // nearest neighbor of a single positive example = cosine top-k of
    // that example's own vector
    val q = Tables.points(spark, sf).filter(col("id") === 10)
      .select("vector").head().getSeq[Double](0)
    val brute = index.points.filter(col("id") =!= 10)
      .withColumn("cs", graft.functions.Vectors.cosineSim(lit(q.toArray), col("vector")))
      .orderBy(col("cs").desc, col("id").asc).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(r.map(_.getLong(1)).toSeq === brute)
  }

  test("searchGroups returns top groups by best hit with per-group cut") {
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    val r = index.searchGroups(q, nGroups = 3, perGroup = 2).collect()
    assert(r.nonEmpty && r.length <= 6)
    // group ranks are 1..n, hit ranks within each group are 1..perGroup
    val byGroup = r.groupBy(_.getLong(0))
    assert(byGroup.keySet.subsetOf(Set(1L, 2L, 3L)))
    byGroup.values.foreach { hits =>
      assert(hits.map(_.getLong(2)).sorted.toSeq === (1L to hits.length).toSeq)
      // one site per group
      assert(hits.map(_.getString(1)).distinct.length === 1)
    }
    // groups are ordered by their best (rank-1) hit score ascending
    val bestScores = r.filter(_.getLong(2) == 1).sortBy(_.getLong(0)).map(_.getDouble(5))
    assert(bestScores.sorted.toSeq === bestScores.toSeq)
  }

  test("facet counts match a direct groupBy under the same filter") {
    val got = index.facet("lang", col("user_id") === 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Tables.points(spark, sf).filter(col("user_id") === 3)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("searchThreshold returns exactly the points within the radius") {
    val qvec = Tables.points(spark, sf).filter(col("id") === 0)
      .head().getSeq[Double](1)
    val r = index.searchThreshold(qvec, userId = 7, tau = 5.0)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // every hit within radius, sorted ascending
    assert(r.forall(_._2 <= 5.0))
    assert(r.map(_._2).toSeq === r.map(_._2).sorted.toSeq)
    // agrees with top-k search truncated at the radius
    val topAll = index.search(qvec, userId = 7, k = 1000)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
      .filter(_._2 <= 5.0)
    assert(r.map(_._1).toSet === topAll.map(_._1).toSet)
  }

  test("scrollBy pages the collection in payload-field order with a keyset cursor") {
    val page1 = index.scrollBy("site", "", -1L, n = 20).collect()
      .map(r => (r.getString(4), r.getLong(0))) // (site, id) — schema order
    assert(page1.length === 20)
    assert(page1.toSeq === page1.sortBy(identity).toSeq)
    val (ls, li) = page1.last
    val page2 = index.scrollBy("site", ls, li, n = 20).collect()
      .map(r => (r.getString(4), r.getLong(0)))
    assert(page2.length === 20)
    // strictly after the cursor, no overlap
    assert(page2.forall(p => p._1 > ls || (p._1 == ls && p._2 > li)))
    assert(page1.toSet.intersect(page2.toSet).isEmpty)
  }

  test("searchFilter/deleteByFilter/countByFilter take the full filter object") {
    import graft.api.Filters._
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    // should + must_not through the search surface ≡ the hand-built
    // column predicate over the same points
    val f = PFilter(
      must = Seq(RangeInt("user_id", 0, 19)),
      should = Seq(MatchValue("lang", "en"), MatchValue("site", "src3")),
      mustNot = Seq(MatchValue("lang", "de")))
    val got = index.searchFilter(q, f, k = 5).collect()
    val p = coalesce(col("user_id").between(0, 19), lit(false)) &&
      (coalesce(col("lang") === "en", lit(false)) ||
        coalesce(col("site") === "src3", lit(false))) &&
      !coalesce(col("lang") === "de", lit(false))
    val expected = index.points.filter(p)
      .withColumn("score",
        graft.functions.Vectors.l2Distance(lit(q.toArray), col("vector")))
      .orderBy(col("score").asc, col("id").asc).limit(5)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got.map(_.getLong(1)).toSeq === expected)
    // count with the same filter = the predicate's row count
    assert(index.countByFilter(f) === index.points.filter(p).count())
    // FilterSelector delete: matching rows go, NULL-payload rows that
    // match no value condition SURVIVE (two-valued semantics)
    val withNulls = new_indexWithNullLang()
    val del = withNulls.deleteByFilter(
      PFilter(must = Seq(MatchValue("lang", "de"))))
    assert(del.points.filter(col("lang") === "de").count() === 0)
    assert(del.points.filter(col("lang").isNull).count() ===
      withNulls.points.filter(col("lang").isNull).count(),
      "NULL-lang rows match no value condition and must survive the delete")
    // has_vector: presence of an optional named-vector column — counts
    // exactly the NOT-NULL rows, and composes with is_null in one tree
    val named = VectorIndex(new_indexWithNullLang().points.withColumn("title_vec",
      when(col("id") % 3 === 0, col("vector")).otherwise(
        lit(null).cast("array<double>"))))
    assert(named.countByFilter(PFilter(must = Seq(HasVector("title_vec")))) ===
      named.points.filter(col("title_vec").isNotNull).count())
    assert(named.countByFilter(PFilter(
      must = Seq(HasVector("title_vec"), IsNull("lang")))) ===
      named.points.filter(col("title_vec").isNotNull && col("lang").isNull).count())
  }

  private def new_indexWithNullLang(): VectorIndex =
    VectorIndex(Tables.points(spark, sf).withColumn("lang",
      when(col("id") % 4 === 0, lit(null).cast("string"))
        .otherwise(col("lang"))))

  test("filter surfaces validate at the API boundary (ADVICE r10)") {
    import graft.api.Filters._
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    // an unknown field refuses with the contract's loud
    // IllegalArgumentException — never a raw AnalysisException deep in
    // plan analysis
    intercept[IllegalArgumentException](
      index.searchFilter(q, PFilter(must = Seq(MatchValue("nope", "x"))), 5))
    intercept[IllegalArgumentException](
      index.countByFilter(PFilter(must = Seq(IsNull("missing_field")))))
    intercept[IllegalArgumentException](
      index.deleteByFilter(PFilter(must = Seq(MatchAny("zzz", Seq("a"))))))
    // an all-empty (match-all) filter on the DESTRUCTIVE path refuses
    // loudly — it would silently delete the whole collection; the read
    // paths keep Qdrant's match-all convention (ADVICE r11)
    intercept[IllegalArgumentException](index.deleteByFilter(PFilter()))
    intercept[IllegalArgumentException](
      index.deleteByFilter(PFilter(must = Seq(PFilter()))))
    assert(index.countByFilter(PFilter()) === index.points.count(),
      "match-all stays honored on the read path")
    // text conditions over an ARRAY column refuse at the boundary too
    // (they compile to a concat() probe that would otherwise surface
    // as a raw AnalysisException — ADVICE r11)
    val arr = VectorIndex(index.points.withColumn("tags",
      org.apache.spark.sql.functions.array(col("lang"))))
    intercept[IllegalArgumentException](
      arr.countByFilter(PFilter(must = Seq(MatchText("tags", Seq("en"))))))
    intercept[IllegalArgumentException](
      arr.countByFilter(PFilter(must = Seq(MatchPhrase("tags", "en fr")))))
    // wrong-typed conditions refuse too: values_count over a scalar
    intercept[IllegalArgumentException](
      index.countByFilter(PFilter(must = Seq(ValuesCount("lang", 1, 2)))))
    // is_empty over a SCALAR column rewrites to is_null (the schema-
    // aware PayloadIndex discipline on the plain collection — no
    // size()-on-string analysis crash)
    val withNulls = new_indexWithNullLang()
    assert(withNulls.countByFilter(PFilter(must = Seq(IsEmpty("lang")))) ===
      withNulls.points.filter(col("lang").isNull).count())
  }

  test("setVectors patches exactly the named columns/ids; deleteVectors composes with has_vector") {
    import graft.api.Filters._
    import spark.implicits._
    // a collection with TWO vector surfaces: the canonical full vector
    // and a 'title_vec' named head
    val base = VectorIndex(Tables.points(spark, sf)
      .withColumn("title_vec", slice(col("vector"), 1, 8)))
    val before = base.points.select("id", "vector", "title_vec", "site")
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getSeq[Double](2), r.getString(3))).toMap
    // patch title_vec for ids 3 and 5; id 999999 is absent (ignored)
    val newHead = Seq(9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0)
    val patch = Seq((3L, newHead), (5L, newHead), (999999L, newHead))
      .toDF("id", "title_vec")
    val patched = base.setVectors(patch)
    val after = patched.points.select("id", "vector", "title_vec", "site")
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getSeq[Double](2), r.getString(3))).toMap
    assert(after.keySet === before.keySet, "a patch never adds/drops points")
    assert(after(3L)._2 === newHead && after(5L)._2 === newHead)
    // every OTHER row, and every OTHER column of the patched rows,
    // travels bit-identically
    before.foreach { case (id, (vec, head, site)) =>
      assert(after(id)._1 === vec, s"full vector of $id changed under a title patch")
      assert(after(id)._3 === site)
      if (id != 3L && id != 5L) assert(after(id)._2 === head)
    }
    // a NULL patch value KEEPS the stored head (removal is explicit)
    val nulled = base.setVectors(Seq((3L, null: Seq[Double]))
      .toDF("id", "title_vec"))
    assert(nulled.points.filter(col("id") === 3).head()
      .getSeq[Double](7) === before(3L)._2)
    // unknown vector columns refuse loudly
    intercept[IllegalArgumentException](
      base.setVectors(Seq((3L, newHead)).toDF("id", "body_vec")))
    intercept[IllegalArgumentException](
      base.setVectors(Seq(3L, 5L).toDF("id")))
    // delete_vectors: the named head nulls out for exactly those ids,
    // and has_vector excludes them from a filtered search
    val dropped = base.deleteVectors(Seq(3L, 5L), Seq("title_vec"))
    assert(dropped.points.filter(col("id").isin(3L, 5L) &&
      col("title_vec").isNotNull).count() === 0)
    assert(dropped.points.filter(col("title_vec").isNull).count() === 2)
    val q = Tables.points(spark, sf).filter(col("id") === 0)
      .select("vector").head().getSeq[Double](0)
    val served = dropped.searchFilter(q,
      PFilter(must = Seq(HasVector("title_vec"))), k = 1000000)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(3L) && !served.contains(5L))
    assert(served.size.toLong === base.points.count() - 2)
    // the primary vector refuses per-point deletion
    intercept[IllegalArgumentException](
      base.deleteVectors(Seq(3L), Seq("vector")))
    intercept[IllegalArgumentException](base.deleteVectors(Nil, Seq("title_vec")))
  }

  test("upsert refuses a batch missing core columns; extras still ride as NULLs") {
    import spark.implicits._
    // a misnamed core column must refuse loudly — allowMissingColumns
    // would otherwise union NULL ids that collapse to one survivor
    val bad = Seq((99L, Seq(0.1, 0.2), "txt", 1L, "s", "en"))
      .toDF("id", "embedding", "text", "user_id", "site", "lang") // no vector/seq
    intercept[IllegalArgumentException](index.upsert(bad))
    // extras-carrying collection upserts a canonical batch: the new
    // row's extra payload is NULL, core semantics unchanged
    val withExtra = VectorIndex(Tables.points(spark, sf)
      .withColumn("stars", col("id") % 5))
    val batch = Tables.points(spark, sf).filter(col("id") === 1)
      .withColumn("id", lit(900001L)).withColumn("seq", lit(900001L))
    val up = withExtra.upsert(batch)
    val row = up.points.filter(col("id") === 900001L).head()
    assert(row.isNullAt(row.fieldIndex("stars")))
    assert(up.points.count() === withExtra.points.count() + 1)
  }

  test("contextSearch ranks by the pair-boundary score alone (no target)") {
    val pairs = Seq((1L, 2L), (3L, 4L))
    val got = index.contextSearch(pairs, k = 8).collect()
    assert(got.length === 8)
    // parity with the hand-built context expression over the collection
    val vecs = index.points.filter(col("id").isin(1L, 2L, 3L, 4L))
      .select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def litVec(id: Long) = array(vecs(id).map(lit): _*)
    val ctx = pairs.map { case (p, n) =>
      least(lit(0.0),
        graft.functions.Vectors.cosineSim(col("vector"), litVec(p)) -
          graft.functions.Vectors.cosineSim(col("vector"), litVec(n)))
    }.reduce(_ + _)
    val expected = index.points
      .filter(!col("id").isin(1L, 2L, 3L, 4L))
      .withColumn("cs", ctx)
      .orderBy(col("cs").desc, col("id").asc).limit(8)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got.map(_.getLong(0)).toSeq === expected)
    // example points are excluded; scores are never positive (each
    // term is min(0, ·))
    assert(got.forall(r => !Set(1L, 2L, 3L, 4L).contains(r.getLong(0))))
    assert(got.forall(_.getDouble(2) <= 0.0))
    // a missing example id refuses loudly; empty pair list refuses
    intercept[IllegalArgumentException](index.contextSearch(Seq((1L, -999L))))
    intercept[IllegalArgumentException](index.contextSearch(Seq.empty))
  }

  test("classify assigns the nearest category representative") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("item_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("vec"), col("label"))
    val cats = emb.filter(col("item_id") < 10)
      .select(col("item_id").cast("string").as("cat"), col("vec").as("cvec"))
    val r = VectorIndex.classify(emb.select("item_id", "vec"), cats)
    assert(r.count() === emb.count())
    // item 3 is its own nearest category at distance 0
    val self = r.filter(col("item_id") === 3).head()
    assert(self.getString(1) === "3" && self.getDouble(2) < 1e-9)
  }
}
