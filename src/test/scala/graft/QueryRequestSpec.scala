package graft

import graft.api.QueryRequest
import graft.operators.{Embeddings, VectorStore}
import org.apache.spark.sql.DataFrame

/** The /points/query JSON wire form (VERDICT r12 #1): per mode, the
  * wire route must serve EXACTLY the proven typed call's rows (it is a
  * parser + dispatch, never new ranking semantics), and every request
  * member the engine does not serve must refuse LOUDLY at parse or
  * dispatch — a silently-dropped query member is a wrong answer.
  */
class QueryRequestSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def wire(json: String): DataFrame =
    VectorStore.pointsQuery(spark, sf, json)

  test("parse: the full request tree round-trips with defaults") {
    import QueryRequest._
    val r = QueryRequest.fromJson(
      """{"query": {"nearest": [0.1, 0.2]},
        | "filter": {"must": [{"key": "lang", "match": {"value": "en"}}]},
        | "limit": 7, "offset": 3, "score_threshold": 0.25,
        | "using": "title"}""".stripMargin)
    assert(r.query === NearestVector(Seq(0.1, 0.2)))
    assert(r.limit === Some(7) && r.offset === 3 &&
      r.scoreThreshold === Some(0.25) && r.using === Some("title"))
    assert(r.filter.nonEmpty && r.prefetch.isEmpty && r.quantization.isEmpty)
    // bare forms: a vector IS a nearest query, an integer an id query
    assert(QueryRequest.fromJson("""{"query": [1.0, 0.0]}""").query ===
      NearestVector(Seq(1.0, 0.0)))
    assert(QueryRequest.fromJson("""{"query": 42}""").query === NearestId(42L))
    val rec = QueryRequest.fromJson(
      """{"query": {"recommend": {"positive": [1, 2], "negative": [3],
        |  "strategy": "best_score"}}}""".stripMargin).query
    assert(rec === Recommend(Seq(1L, 2L), Seq(3L), "best_score"))
    val qz = QueryRequest.fromJson(
      """{"query": 0, "params": {"quantization":
        |  {"rescore": false, "oversampling": 3.0}}}""".stripMargin)
      .quantization.get
    assert(!qz.ignore && !qz.rescore && qz.oversampling === 3.0)
  }

  test("wire nearest ≡ the typed filtered search (the oracle row's request)") {
    val direct = rows(VectorStore.searchFilterShould(spark, sf))
    assert(rows(wire(SparkEntry.defaultPointsQueryJson)) === direct)
    assert(direct.nonEmpty)
  }

  test("wire recommend ≡ recommend / best_score / lookup_from") {
    val avg = wire("""{"query": {"recommend":
      |{"positive": [1, 2, 3, 4, 5], "negative": [6, 7, 8]}}}""".stripMargin)
    assert(rows(avg) === rows(VectorStore.recommend(spark, sf)))
    val best = wire("""{"query": {"recommend":
      |{"positive": [1, 2, 3, 4, 5], "negative": [6, 7, 8],
      | "strategy": "best_score"}}}""".stripMargin)
    assert(rows(best) === rows(VectorStore.recommendBestScore(spark, sf)))
    val lookup = wire("""{"query": {"recommend":
      |{"positive": [1, 2], "negative": [3]}},
      | "lookup_from": "label_centroids"}""".stripMargin)
    assert(rows(lookup) === rows(VectorStore.recommendLookup(spark, sf)))
    intercept[IllegalArgumentException](wire(
      """{"query": {"recommend": {"positive": [1]}},
        | "lookup_from": "elsewhere"}""".stripMargin))
    // Qdrant's common POSITIVE-ONLY recommend serves (direction = Σpos;
    // the zero-weight degenerate would have zeroed the query vector)
    val posOnly = wire(
      """{"query": {"recommend": {"positive": [1, 2]}}, "limit": 5}""")
      .collect()
    assert(posOnly.length === 5)
    assert(!posOnly.map(_.getLong(1)).toSet.exists(Set(1L, 2L)),
      "examples stay excluded from positive-only results")
    val posOnlyBest = wire(
      """{"query": {"recommend": {"positive": [1, 2],
        |  "strategy": "best_score"}}, "limit": 5}""".stripMargin).collect()
    assert(posOnlyBest.length === 5)
    assert(posOnlyBest.map(_.getDouble(2)).forall(_ >= -1.0))
  }

  test("wire recommend with raw vector examples ≡ recommendMixed") {
    val vecJson = VectorStore.rawExample.mkString("[", ", ", "]")
    val mixed = wire(
      s"""{"query": {"recommend": {"positive": [1, 2, $vecJson],
         |  "negative": [6]}}}""".stripMargin)
    assert(rows(mixed) === rows(VectorStore.recommendMixed(spark, sf)))
    // an ALL-raw recommend serves (no stored ids excluded) and its
    // positive-only direction degenerates to the raw sum
    val allRaw = wire(
      s"""{"query": {"recommend": {"positive": [$vecJson]}}, "limit": 5}""")
      .collect()
    assert(allRaw.length === 5)
    // raw examples refuse best_score and lookup_from by name
    val e1 = intercept[IllegalArgumentException](wire(
      s"""{"query": {"recommend": {"positive": [$vecJson],
         |  "strategy": "best_score"}}}""".stripMargin))
    assert(e1.getMessage.contains("average_vector"))
    val e2 = intercept[IllegalArgumentException](wire(
      s"""{"query": {"recommend": {"positive": [$vecJson]}},
         | "lookup_from": "label_centroids"}""".stripMargin))
    assert(e2.getMessage.contains("lookup_from"))
    // a non-id non-vector example entry refuses at parse
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"recommend": {"positive": ["abc"]}}}"""))
  }

  test("wire discover / context ≡ the typed calls") {
    val disc = wire("""{"query": {"discover": {"target": 0, "context":
      |[{"positive": 1, "negative": 2},
      | {"positive": 3, "negative": 4}]}}}""".stripMargin)
    assert(rows(disc) === rows(VectorStore.discover(spark, sf)))
    val ctx = wire("""{"query": {"context":
      |[{"positive": 1, "negative": 2},
      | {"positive": 3, "negative": 4}]}}""".stripMargin)
    assert(rows(ctx) === rows(VectorStore.contextSearch(spark, sf)))
  }

  test("wire fusion over two prefetch stages ≡ hybrid RRF / DBSF") {
    val rrf = wire("""{"query": {"fusion": "rrf"},
      | "prefetch": [{"query": {"nearest": 0}, "limit": 20},
      |              {"query": {"nearest": 0}, "limit": 20}]}""".stripMargin)
    assert(rows(rrf) === rows(VectorStore.hybridSearch(spark, sf)))
    val dbsf = wire("""{"query": {"fusion": "dbsf"},
      | "prefetch": [{"query": {"nearest": 0}, "limit": 20},
      |              {"query": {"nearest": 0}, "limit": 20}]}""".stripMargin)
    assert(rows(dbsf) === rows(VectorStore.dbsfFusion(spark, sf)))
    // stage count and mismatched depths refuse
    intercept[IllegalArgumentException](wire(
      """{"query": {"fusion": "rrf"},
        | "prefetch": [{"query": {"nearest": 0}}]}""".stripMargin))
    intercept[IllegalArgumentException](wire(
      """{"query": {"fusion": "rrf"},
        | "prefetch": [{"query": {"nearest": 0}, "limit": 10},
        |              {"query": {"nearest": 0}, "limit": 20}]}""".stripMargin))
  }

  test("wire two-deep prefetch chain ≡ the binary→SQ→float cascade") {
    val cascade = wire("""{"query": {"nearest": 0},
      | "prefetch": {"query": {"nearest": 0}, "limit": 50, "using": "sq",
      |   "prefetch": {"query": {"nearest": 0}, "limit": 200, "using": "bq"}}}"""
      .stripMargin)
    assert(rows(cascade) === rows(Embeddings.queryPrefetch(spark, sf)))
    // a mis-tiered stage refuses instead of silently serving another tier
    intercept[IllegalArgumentException](wire(
      """{"query": {"nearest": 0},
        | "prefetch": {"query": {"nearest": 0}, "limit": 50, "using": "pq"}}"""
        .stripMargin))
  }

  test("wire quantization params ≡ searchQuantized per tier") {
    val sqNo = wire("""{"query": {"nearest": 0},
      | "params": {"quantization": {"rescore": false, "oversampling": 3.0}}}"""
      .stripMargin)
    assert(rows(sqNo) === rows(Embeddings.searchQuantized(spark, sf,
      method = "sq", rescore = false, oversampling = 3.0)))
    val bq = wire("""{"query": {"nearest": 0}, "using": "bq",
      | "params": {"quantization": {"oversampling": 10.0}}}""".stripMargin)
    assert(rows(bq) === rows(Embeddings.searchQuantized(spark, sf,
      method = "bq", oversampling = 10.0)))
    // ignore: true = the exact float scan
    val exact = wire("""{"query": {"nearest": 0},
      | "params": {"quantization": {"ignore": true}}}""".stripMargin)
    assert(rows(exact) === rows(Embeddings.searchQuantized(spark, sf,
      method = "none")))
    intercept[IllegalArgumentException](wire(
      """{"query": {"nearest": 0}, "using": "zstd",
        | "params": {"quantization": {}}}""".stripMargin))
  }

  test("wire sample ≡ randomSample, filtered sample ≡ the filtered draw") {
    val bare = wire("""{"query": {"sample": "random"}, "limit": 20}""")
    assert(rows(bare) === rows(VectorStore.randomSample(spark, sf)))
    val filtered = wire("""{"query": {"sample": "random"}, "limit": 20,
      | "filter": {"must": [
      |   {"key": "lang", "match": {"any": ["en", "fr"]}},
      |   {"key": "user_id", "range": {"gte": 2, "lte": 12}}]}}""".stripMargin)
    assert(rows(filtered) === rows(VectorStore.randomSampleFiltered(spark, sf)))
  }

  test("wire formula ≡ the typed decay row bit-for-bit") {
    val f = wire("""{"query": {"formula": {"sum": [
      |   {"mult": [0.7, "$score"]},
      |   {"mult": [0.3, {"lin_decay":
      |     {"x": {"key": "seq"}, "target": 100.0, "scale": 1000.0}}]}]}},
      | "prefetch": {"query": {"nearest": 3}}}""".stripMargin)
    val direct = VectorStore.formulaDecay(spark, sf)
      .select("rank", "id", "score")
    assert(rows(f) === rows(direct))
    // refused formula members name the gap instead of mis-scoring
    intercept[IllegalArgumentException](wire(
      """{"query": {"formula": {"frob": [1]}},
        | "prefetch": {"query": {"nearest": 3}}}""".stripMargin))
    intercept[IllegalArgumentException](wire(
      """{"query": {"formula": "$score", "defaults": {"seq": 0}},
        | "prefetch": {"query": {"nearest": 3}}}""".stripMargin))
    // a formula with no prefetch stage has no $score to rescore
    intercept[IllegalArgumentException](
      wire("""{"query": {"formula": "$score"}}"""))
  }

  test("wire using: title ≡ the named-vectors head search") {
    val titled = wire("""{"query": {"nearest": 0}, "using": "title",
      | "filter": {"must": [{"key": "user_id",
      |   "range": {"gte": 7, "lte": 7}}]}}""".stripMargin)
    val direct = VectorStore.namedVectors(spark, sf)
    assert(rows(titled.select("rank", "id", "score")) === rows(direct))
    intercept[IllegalArgumentException](
      wire("""{"query": {"nearest": 0}, "using": "body"}"""))
  }

  test("wire offset pages with absolute ranks; threshold gates the served score") {
    val whole = wire(
      """{"query": {"nearest": 0}, "limit": 10,
        | "filter": {"must": [{"key": "user_id", "range": {"gte": 7, "lte": 7}}]}}"""
        .stripMargin).collect()
    val page2 = wire(
      """{"query": {"nearest": 0}, "limit": 5, "offset": 5,
        | "filter": {"must": [{"key": "user_id", "range": {"gte": 7, "lte": 7}}]}}"""
        .stripMargin).collect()
    assert(page2.map(_.toSeq).toSeq === whole.drop(5).map(_.toSeq).toSeq)
    assert(page2.head.getLong(0) === 6L, "ranks stay absolute across pages")
    // threshold keeps exactly the rows whose SERVED 4dp score clears τ
    val tau = whole(4).getDouble(5)
    val gated = wire(
      s"""{"query": {"nearest": 0}, "limit": 10, "score_threshold": $tau,
         | "filter": {"must": [{"key": "user_id", "range": {"gte": 7, "lte": 7}}]}}"""
        .stripMargin).collect()
    assert(gated.map(_.getLong(1)).toSeq ===
      whole.filter(_.getDouble(5) >= tau).map(_.getLong(1)).toSeq)
    assert(gated.forall(_.getDouble(5) >= tau))
  }

  test("the wire route is reachable from SQL through graft_query") {
    val json = SparkEntry.defaultPointsQueryJson.replace("'", "''")
    val viaSql = spark.sql(
      s"SELECT * FROM graft_query('vs_points_query', '$sf', map('query', '$json'))")
    assert(rows(viaSql) === rows(VectorStore.searchFilterShould(spark, sf)))
  }

  test("malformed wire requests refuse loudly, naming the member") {
    // unknown top-level member (projection params included)
    val e1 = intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": 0, "with_payload": true}"""))
    assert(e1.getMessage.contains("with_payload"))
    // unknown query mode
    intercept[IllegalArgumentException](
      QueryRequest.fromJson("""{"query": {"nearestt": 0}}"""))
    // order_by points at the scroll rows
    val e2 = intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"order_by": {"key": "site"}}}"""))
    assert(e2.getMessage.contains("scroll"))
    // a filter inside the request parses under the SAME loud discipline
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": 0, "filter": {"must": [{"key": "x",
        |  "match": {"except": []}}]}}""".stripMargin))
    // zero-coercion guards: a textual id refuses, never becomes id 0;
    // a non-numeric element inside a raw example refuses likewise
    intercept[IllegalArgumentException](
      QueryRequest.fromJson("""{"query": {"nearest": "abc"}}"""))
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"recommend": {"positive": [[0.1, "x"]]}}}"""))
    // bad knob values
    intercept[IllegalArgumentException](
      QueryRequest.fromJson("""{"query": 0, "limit": 0}"""))
    intercept[IllegalArgumentException](
      QueryRequest.fromJson("""{"query": 0, "offset": -1}"""))
    // integers past Int's range refuse: Jackson's asInt would wrap
    // 2^32 + 5 to 5 and 2^31 to -2^31
    def pastInt(json: String, parse: String => Any = QueryRequest.fromJson): Unit = {
      val e = intercept[IllegalArgumentException](parse(json))
      assert(e.getMessage.contains("2147483647"), e.getMessage)
    }
    pastInt("""{"query": 0, "limit": 4294967301}""")
    pastInt("""{"query": 0, "offset": 2147483648}""")
    pastInt("""{"query": {"nearest": 0, "mmr": {"candidates_limit": 4294967396}}}""")
    pastInt("""{"query": 0, "group_by": "site", "group_size": 4294967298}""",
      QueryRequest.groupsFromJson)
    pastInt("""{"limit": 4294967299}""", QueryRequest.matrixFromJson)
    // each fits an Int, but a ranked page keeps offset + limit rows
    pastInt("""{"query": 0, "offset": 2147483647, "limit": 1}""")
    pastInt("""{"query": 0, "offset": 2147483640}""") // + the default limit 10
    assert(QueryRequest.fromJson("""{"query": 0, "offset": 2147483637}""")
      .offset === 2147483637)
    assert(QueryRequest.fromJson("""{"query": 0, "limit": 2147483647}""")
      .limit === Some(Int.MaxValue))
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": 0, "params": {"quantization": {"oversample": 2}}}"""))
    // unserved envelope members refuse at DISPATCH, naming the mode
    val e3 = intercept[IllegalArgumentException](wire(
      """{"query": {"discover": {"target": 0, "context":
        |  [{"positive": 1, "negative": 2}]}},
        | "filter": {"must": []}}""".stripMargin))
    assert(e3.getMessage.contains("filter"))
  }

  test("wire mmr ≡ the typed MMR search (λ = 1 − diversity)") {
    // diversity 0.25 → λ = 0.75 (an exact IEEE complement — the spec
    // pins values whose subtraction cannot introduce a ulp the typed
    // call's literal λ lacks)
    val viaWire = wire(
      """{"query": {"nearest": 0,
        |  "mmr": {"diversity": 0.25, "candidates_limit": 100}},
        | "limit": 10}""".stripMargin)
    assert(rows(viaWire) ===
      rows(VectorStore.mmrSearch(spark, sf, 10, 100, 0.75)))
    // mmr parse refusals: out-of-range diversity, unknown keys,
    // vector-anchored mmr (the candidate pool anchors on stored ids)
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"nearest": 0, "mmr": {"diversity": 1.5}}}"""))
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"nearest": 0, "mmr": {"lambda": 0.5}}}"""))
    intercept[IllegalArgumentException](QueryRequest.fromJson(
      """{"query": {"nearest": [0.1, 0.2], "mmr": {"diversity": 0.5}}}"""))
    // unserved envelope members refuse with the mode named
    intercept[IllegalArgumentException](wire(
      """{"query": {"nearest": 0, "mmr": {"diversity": 0.5}},
        | "filter": {"must": [{"key": "lang", "match": {"value": "en"}}]}}"""
        .stripMargin))
  }

  test("groups wire ≡ searchGroups / searchGroupsLookup") {
    // unfiltered wire ≡ the typed default
    val direct = rows(VectorStore.searchGroups(spark, sf))
    assert(rows(VectorStore.pointsQueryGroups(spark, sf,
      """{"query": {"nearest": 0}, "group_by": "site",
        | "limit": 3, "group_size": 2}""".stripMargin)) === direct)
    assert(direct.nonEmpty)
    // the oracle default carries a filter: the candidate corpus honors
    // it (indexed route) while the query anchor resolves unfiltered
    val pf = graft.api.Filters.fromJson(
      """{"must": [{"key": "user_id", "range": {"gte": 1, "lte": 15}}]}""")
    val filtered = rows(VectorStore.pointsQueryGroups(spark, sf,
      SparkEntry.defaultGroupsJson))
    assert(filtered === rows(VectorStore.searchGroups(spark, sf, 0, 3, 2,
      Some(pf))))
    assert(filtered !== direct, "the filter must change the answer")
    // with_lookup (string and object forms) attaches the site profile
    val lookup = rows(VectorStore.searchGroupsLookup(spark, sf))
    assert(rows(VectorStore.pointsQueryGroups(spark, sf,
      """{"query": {"nearest": 0}, "group_by": "site", "limit": 3,
        | "group_size": 2, "with_lookup": "site_profiles"}""".stripMargin))
      === lookup)
    assert(rows(VectorStore.pointsQueryGroups(spark, sf,
      """{"query": {"nearest": 0}, "group_by": "site", "limit": 3,
        | "group_size": 2,
        | "with_lookup": {"collection": "site_profiles"}}""".stripMargin))
      === lookup)
    // refusals: un-grouped field, unknown lookup collection, non-id query
    intercept[IllegalArgumentException](VectorStore.pointsQueryGroups(
      spark, sf, """{"query": {"nearest": 0}, "group_by": "text"}"""))
    intercept[IllegalArgumentException](VectorStore.pointsQueryGroups(
      spark, sf,
      """{"query": {"nearest": 0}, "group_by": "site",
        | "with_lookup": "elsewhere"}""".stripMargin))
    intercept[IllegalArgumentException](VectorStore.pointsQueryGroups(
      spark, sf,
      """{"query": {"fusion": "rrf"}, "group_by": "site"}"""))
  }

  test("scroll wire: id keyset, payload-ordered keyset, refusals") {
    // Qdrant's inclusive offset cursor: offset 101 ≡ scrollPage's
    // exclusive after-100 cursor on integer ids
    assert(rows(VectorStore.pointsScroll(spark, sf,
      """{"offset": 101, "limit": 50}""")) ===
      rows(VectorStore.scrollPage(spark, sf)))
    // order_by (start_from, offset) ≡ the typed (site, id) keyset
    assert(rows(VectorStore.pointsScroll(spark, sf,
      """{"order_by": {"key": "site", "start_from": "src12"},
        | "offset": 120, "limit": 50}""".stripMargin)) ===
      rows(VectorStore.scrollOrderBy(spark, sf)))
    // bare-string order_by form parses; page 1 starts at the least site
    val first = VectorStore.pointsScroll(spark, sf,
      """{"order_by": "site", "limit": 5}""").collect()
    assert(first.length === 5)
    assert(first.map(_.getString(0)).toSeq === first.map(_.getString(0)).toSeq.sorted)
    // refusals: desc on this collection, unknown order key, projection members
    intercept[IllegalArgumentException](VectorStore.pointsScroll(spark, sf,
      """{"order_by": {"key": "site", "direction": "desc"}}"""))
    intercept[IllegalArgumentException](VectorStore.pointsScroll(spark, sf,
      """{"order_by": {"key": "value"}}"""))
    intercept[IllegalArgumentException](VectorStore.pointsScroll(spark, sf,
      """{"limit": 5, "with_payload": true}"""))
  }

  test("count / facet wire serve the filtered aggregates; estimated count refuses") {
    val n = VectorStore.pointsCount(spark, sf, SparkEntry.defaultCountJson)
      .collect()
    assert(n.length === 1 && n.head.getLong(0) > 0)
    // exact: false refuses (the engine's count is exact either way)
    val e = intercept[IllegalArgumentException](VectorStore.pointsCount(
      spark, sf, """{"filter": {"must": []}, "exact": false}"""))
    assert(e.getMessage.contains("exact"))
    val fac = VectorStore.pointsFacet(spark, sf, SparkEntry.defaultFacetJson)
      .collect()
    assert(fac.nonEmpty && fac.length <= 8)
    // hottest-first with value-asc ties
    val counts = fac.map(_.getLong(1)).toSeq
    assert(counts === counts.sortBy(-_))
    // a non-payload facet key refuses
    intercept[IllegalArgumentException](VectorStore.pointsFacet(spark, sf,
      """{"key": "vector"}"""))
  }

  test("retrieve / matrix wire ≡ the typed calls with parsed knobs") {
    // retrieve: the typed row's ids through the wire parse
    assert(rows(VectorStore.pointsRetrieve(spark, sf,
      """{"ids": [3, 17, 99999999, 42, 250]}""")) ===
      rows(VectorStore.retrievePoints(spark, sf)))
    // missing ids are absent, not errors
    val sparse = VectorStore.pointsRetrieve(spark, sf,
      """{"ids": [5, 99999999]}""").collect()
    assert(sparse.map(_.getLong(0)).toSeq === Seq(5L))
    // matrix: sample/limit flow through
    assert(rows(VectorStore.pointsMatrix(spark, sf,
      """{"sample": 20, "limit": 5}""")) ===
      rows(VectorStore.distanceMatrix(spark, sf)))
    // refusals: projection members, filter on matrix, empty ids
    intercept[IllegalArgumentException](VectorStore.pointsRetrieve(spark, sf,
      """{"ids": [1], "with_vector": true}"""))
    intercept[IllegalArgumentException](VectorStore.pointsMatrix(spark, sf,
      """{"sample": 10, "filter": {"must": []}}"""))
    intercept[IllegalArgumentException](
      graft.api.QueryRequest.retrieveFromJson("""{"ids": []}"""))
    intercept[IllegalArgumentException](
      graft.api.QueryRequest.matrixFromJson("""{"sample": 1}"""))
  }

  test("batch wire unions the per-request plans tagged query_idx") {
    val batch = VectorStore.pointsQueryBatch(spark, sf,
      SparkEntry.defaultBatchJson).collect()
    val half0 = batch.filter(_.getLong(0) == 0L).map(_.toSeq.drop(1)).toSeq
    val half1 = batch.filter(_.getLong(0) == 1L).map(_.toSeq.drop(1)).toSeq
    assert(half0 === rows(wire(SparkEntry.defaultPointsQueryJson)))
    assert(half1 === rows(wire(
      """{"query": {"nearest": 0},
        | "filter": {"must": [{"key": "user_id", "range": {"gte": 7, "lte": 7}}]},
        | "limit": 5}""".stripMargin)))
    // mismatched result shapes refuse instead of mis-unioning
    val e = intercept[IllegalArgumentException](VectorStore.pointsQueryBatch(
      spark, sf,
      """{"searches": [{"query": {"nearest": 1}, "limit": 5},
        | {"query": {"sample": "random"}, "limit": 5}]}""".stripMargin))
    assert(e.getMessage.contains("shape"))
    intercept[IllegalArgumentException](
      graft.api.QueryRequest.batchFromJson("""{"searches": []}"""))
  }
}
