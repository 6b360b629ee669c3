package graft

import graft.api.{Filters, PayloadIndex}
import graft.api.Filters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-10 Qdrant filter boolean algebra + its routes: `should` /
  * `must_not` / `min_should` composition, MatchAny/MatchExcept,
  * is_empty/is_null, geo_polygon, deleteTo rotations, the antimeridian
  * radius wrap, and the Locale.ROOT term fold. The contract per route
  * is the payload-index trio: (1) indexed predicates PRUNE (scanned
  * files ⊆ the matching slice); (2) readFilter ≡ the scan route
  * (`Filters.toColumn`) row-for-row, INCLUDING on NULL payloads under
  * Qdrant's total-boolean semantics; (3) rotations/loads stay
  * self-describing.
  */
class FilterAlgebraSpec extends SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-filter-alg-").toString + "/idx"

  import scala.jdk.CollectionConverters._
  // (id, site, lang, uid, text) with NULL sites/langs sprinkled in
  private def corpus(): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, site STRING, lang STRING, uid BIGINT, text STRING")
    val words = Seq("alpha", "beta", "gamma", "delta")
    val rows = (1L to 60L).map { i =>
      org.apache.spark.sql.Row(i,
        if (i % 10 == 0) null else s"s${i % 3}",
        if (i % 7 == 0) null else Seq("en", "fr", "de")((i % 3).toInt),
        i % 6,
        s"${words((i % 4).toInt)} ${words(((i + 1) % 4).toInt)} w$i")
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def build(root: String): PayloadIndex =
    PayloadIndex.create(spark, corpus(), root,
      keyword = Seq("site", "lang"), integer = Seq("uid"),
      text = Seq("text"), idCol = "id", nZones = 3)

  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("should: union-of-slices pruning, scan-route parity") {
    val idx = build(tmp())
    val f = PFilter(
      must = Seq(RangeInt("uid", 1, 4)),
      should = Seq(MatchValue("site", "s1"), MatchValue("lang", "en")))
    val viaIdx = idx.readFilter(f)
    val viaScan = corpus().filter(Filters.toColumn(f))
    sameRows(viaIdx, viaScan)
    assert(viaIdx.count() > 0)
    // scanned files ⊆ the union of the two arms' directories
    val files = scannedFiles(viaIdx)
    assert(files.nonEmpty && files.forall(p =>
      p.contains("/site=s1/") || p.contains("/lang=en/")),
      s"should-arm union violated: $files")
    // and strictly fewer than an unpruned read
    assert(files.length < scannedFiles(idx.readFilter()).length)
  }

  test("must_not: Qdrant semantics (NULL matches the exclusion), residual-only") {
    val idx = build(tmp())
    val f = PFilter(
      must = Seq(RangeInt("uid", 0, 5)),
      mustNot = Seq(MatchValue("lang", "de"), MatchValue("site", "s2")))
    val viaIdx = idx.readFilter(f)
    val viaScan = corpus().filter(Filters.toColumn(f))
    sameRows(viaIdx, viaScan)
    // the NULL-lang rows MATCH must_not [lang=de] — Qdrant, not SQL
    // three-valued logic (the naive NOT would drop them)
    assert(viaIdx.filter(col("lang").isNull).count() > 0,
      "must_not must admit NULL payloads (the condition does not match)")
    val naive = corpus().filter(col("uid").between(0, 5) &&
      !(col("lang") === "de") && !(col("site") === "s2"))
    assert(viaIdx.count() > naive.count(),
      "Qdrant must_not diverges from three-valued NOT on NULL payloads")
  }

  test("min_should: m-of-n parity, union pruning, text arm disables group pruning only") {
    val idx = build(tmp())
    val f = PFilter(minShould = Some((Seq(
      MatchValue("site", "s1"), MatchValue("lang", "en"),
      RangeInt("uid", 0, 2)), 2)))
    val viaIdx = idx.readFilter(f)
    sameRows(viaIdx, corpus().filter(Filters.toColumn(f)))
    assert(viaIdx.count() > 0)
    // brute m-of-n recount
    val brute = corpus().filter(
      (when(coalesce(col("site") === "s1", lit(false)), 1).otherwise(0) +
        when(coalesce(col("lang") === "en", lit(false)), 1).otherwise(0) +
        when(coalesce(col("uid").between(0, 2), lit(false)), 1).otherwise(0)) >= 2)
    sameRows(viaIdx, brute)
    // all arms prunable → union pruning engages (site/lang dirs + zones)
    assert(scannedFiles(viaIdx).length < scannedFiles(idx.readFilter()).length)
    // an unprunable arm (text) disables the GROUP's pruning, not its meaning
    val fTxt = PFilter(minShould = Some((Seq(
      MatchValue("site", "s1"), MatchText("text", Seq("w3"))), 1)))
    sameRows(idx.readFilter(fTxt), corpus().filter(Filters.toColumn(fTxt)))
    // invalid min counts are refused loudly
    intercept[IllegalArgumentException](
      PFilter(minShould = Some((Seq(MatchValue("site", "s1")), 0))))
    intercept[IllegalArgumentException](
      PFilter(minShould = Some((Seq(MatchValue("site", "s1")), 2))))
  }

  test("MatchTextAny unions posting lists; MatchExcept admits NULL and prunes") {
    val idx = build(tmp())
    // any-of text: alpha appears in ids ≡ 0 (mod 4), gamma in ≡ 2
    val fAny = PFilter(must = Seq(MatchTextAny("text", Seq("alpha", "gamma"))))
    val viaIdx = idx.readFilter(fAny)
    sameRows(viaIdx, corpus().filter(Filters.toColumn(fAny)))
    assert(viaIdx.count() > 0)
    // an all-text should group gates by the candidate union too
    val fShould = PFilter(should = Seq(
      MatchText("text", Seq("alpha")), MatchText("text", Seq("gamma"))))
    sameRows(idx.readFilter(fShould), corpus().filter(Filters.toColumn(fShould)))
    // keyword except: NULL matches, and the complement still prunes
    // (negated partition predicate — directories of excluded values
    // never scan)
    val fEx = PFilter(must = Seq(MatchExcept("lang", Seq("de", "fr"))))
    val viaEx = idx.readFilter(fEx)
    sameRows(viaEx, corpus().filter(Filters.toColumn(fEx)))
    assert(viaEx.filter(col("lang").isNull).count() > 0,
      "MatchExcept is NOT-MatchAny: a NULL value matches")
    val exFiles = scannedFiles(viaEx)
    assert(exFiles.nonEmpty &&
      exFiles.forall(p => !p.contains("/lang=de/") && !p.contains("/lang=fr/")),
      s"excluded-value directories must not scan: $exFiles")
  }

  test("is_null prunes to the default partition; is_empty covers null + empty arrays") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, site STRING, tags ARRAY<STRING>")
    val rows = (1L to 30L).map { i =>
      org.apache.spark.sql.Row(i,
        if (i % 5 == 0) null else s"s${i % 2}",
        if (i % 4 == 0) null
        else if (i % 3 == 0) Seq.empty[String]
        else Seq(s"t${i % 2}"))
    }
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("site"), integer = Seq.empty)
    val fNull = PFilter(must = Seq(IsNull("site")))
    val viaIdx = idx.readFilter(fNull)
    sameRows(viaIdx, base.filter(Filters.toColumn(fNull)))
    assert(viaIdx.count() === 6L)
    // pruning: ONLY the Hive default partition scans
    val files = scannedFiles(viaIdx)
    assert(files.nonEmpty &&
      files.forall(_.contains("/site=__HIVE_DEFAULT_PARTITION__/")),
      s"is_null must prune to the default partition: $files")
    // is_empty on the ARRAY field: null ∪ empty
    val fEmpty = PFilter(must = Seq(IsEmpty("tags")))
    val viaEmpty = idx.readFilter(fEmpty)
    sameRows(viaEmpty, base.filter(Filters.toColumn(fEmpty)))
    assert(viaEmpty.count() ===
      base.filter(col("tags").isNull || size(col("tags")) === 0).count())
    // is_empty over a SCALAR field rewrites to is_null (schema-aware)
    sameRows(idx.readFilter(PFilter(must = Seq(IsEmpty("site")))), viaIdx)
    // unknown fields are refused loudly
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(IsNull("nope")))))
  }

  test("deleteTo: rotation ≡ from-scratch build; untouched directories byte-copy") {
    val src = tmp()
    val idx = build(src)
    val dst = tmp()
    val f = PFilter(must = Seq(RangeInt("uid", 5, 5)))
    val rotated = idx.deleteTo(dst, f)
    // read parity with a from-scratch index over the filtered corpus
    val survivors = corpus().filter(!Filters.toColumn(f))
    val fresh = PayloadIndex.create(spark, survivors, tmp(),
      keyword = Seq("site", "lang"), integer = Seq("uid"),
      text = Seq("text"), idCol = "id", nZones = 3)
    sameRows(rotated.readFilter(), fresh.readFilter())
    assert(rotated.readFilter().count() === 50L)
    sameRows(rotated.readFilter(PFilter(must = Seq(MatchAny("site", Seq("s1"))))),
      fresh.readFilter(PFilter(must = Seq(MatchAny("site", Seq("s1"))))))
    sameRows(rotated.readFilter(PFilter(must = Seq(MatchText("text", Seq("alpha"))))),
      fresh.readFilter(PFilter(must = Seq(MatchText("text", Seq("alpha"))))))
    sameRows(rotated.readFilter(PFilter(must = Seq(RangeInt("uid", 0L, 2L)))),
      fresh.readFilter(PFilter(must = Seq(RangeInt("uid", 0L, 2L)))))
    // a fresh LOAD of the rotation serves identically
    sameRows(PayloadIndex.load(spark, dst).readFilter(), rotated.readFilter())
    // untouched zone directories traveled as BYTE COPIES: same file
    // names file-for-file outside the rewritten uid zones
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val doomedZones = idx.zones("uid").collect {
      case (z, lo, hi) if hi >= 5 && lo <= 5 => z }.toSet
    def leafFiles(root: String): Map[String, Set[String]] =
      PayloadIndex.leafDataDirs(fs, new org.apache.hadoop.fs.Path(s"$root/data"))
        .map(rel => rel -> fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/data/$rel"))
          .map(_.getPath.getName).filter(_.contains("part-")).toSet).toMap
    val srcF = leafFiles(src); val dstF = leafFiles(dst)
    val untouched = srcF.keys.filter(rel =>
      !doomedZones.exists(z => rel.contains(s"__zone_uid=$z")))
    assert(untouched.nonEmpty)
    untouched.foreach { rel =>
      assert(dstF.get(rel).contains(srcF(rel)),
        s"untouched dir $rel must byte-copy file-for-file") }
    // an UNPRUNABLE delete filter (text condition) still rotates
    // correctly — the honest full rewrite
    val fTxt = PFilter(must = Seq(MatchText("text", Seq("alpha"))))
    val rot2 = idx.deleteTo(tmp(), fTxt)
    sameRows(rot2.readFilter(), corpus().filter(!Filters.toColumn(fTxt)))
    // destination collision is refused
    intercept[IllegalArgumentException](idx.deleteTo(dst, f))
  }

  test("geo_polygon: even-odd residual ≡ scan, cell cover prunes and drops") {
    val root = tmp()
    // deterministic lat/lon derivation (the geoSearch grid)
    val base = corpus()
      .withColumn("lat", (col("id") * 7919 % 18000) / lit(100.0) - 90.0)
      .withColumn("lon", (col("id") * 104729 % 36000) / lit(100.0) - 180.0)
      .select("id", "lat", "lon")
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, geo = Seq(("lat", "lon")),
      geoGrid = 16)
    // a NON-CONVEX polygon (lat, lon)
    val poly = Seq((0.25, -60.25), (50.25, -20.25), (10.25, 0.25),
      (50.25, 30.25), (-20.25, 10.25))
    val viaIdx = idx.readFilter(PFilter(must = Seq(GeoPolygon("lat", "lon", poly))))
    val viaScan = base.filter(
      PayloadIndex.evenOddContains(col("lat"), col("lon"), poly))
    sameRows(viaIdx, viaScan)
    // the notch works: a point inside the bbox but in the notch is OUT
    // (lat 45, lon 0 sits between the two prongs)
    val probeSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    val probe = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(100L, 45.0, 0.004),
      org.apache.spark.sql.Row(101L, 30.0, -20.0)).asJava, probeSchema)
    val flags = probe.withColumn("in",
      PayloadIndex.evenOddContains(col("lat"), col("lon"), poly))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!flags(100L) && flags(101L),
      "even-odd must respect the non-convex notch")
    // pruning: scanned ⊆ bbox cover, and the cover DROPS bbox cells
    // that do not intersect the polygon (the notch corner cells)
    val lats = poly.map(_._1); val lons = poly.map(_._2)
    val bboxCells = PayloadIndexTestHook.geoCells(16,
      lats.min, lats.max, lons.min, lons.max)
    val files = scannedFiles(viaIdx)
    assert(files.nonEmpty && files.forall(p => bboxCells.exists(c =>
      p.contains(s"=$c/") || p.contains(s"=$c"))))
    // NULL coordinates are excluded, matching the scan route
    val nullRow = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(200L, null, null)).asJava, probeSchema)
    assert(nullRow.filter(
      PayloadIndex.evenOddContains(col("lat"), col("lon"), poly)).isEmpty)
    // degenerate and invalid polygons are refused
    intercept[IllegalArgumentException](idx.readFilter(PFilter(must = Seq(
      GeoPolygon("lat", "lon", Seq((0.0, 0.0), (1.0, 1.0)))))))
    intercept[IllegalArgumentException](idx.readFilter(PFilter(must = Seq(
      GeoPolygon("lat", "lon", Seq((0.0, 0.0), (0.0, 1.0), (0.0, 2.0)))))))
  }

  test("geo_radius wraps at the antimeridian instead of clamping") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    // points straddling lon = ±180 at the equator, plus controls
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 0.0, 179.95),
      org.apache.spark.sql.Row(2L, 0.0, -179.95), // ~11 km across the seam
      org.apache.spark.sql.Row(3L, 0.0, 179.0),
      org.apache.spark.sql.Row(4L, 0.0, -179.0),
      org.apache.spark.sql.Row(5L, 0.0, 0.0),
      org.apache.spark.sql.Row(6L, 45.0, -179.9))
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, geo = Seq(("lat", "lon")),
      geoGrid = 32)
    // 50 km circle centered just east of the seam: the far-side point
    // (id 2) is ~11 km away and MUST be found (ADVICE r9 — the clamped
    // box never selected its cell)
    val got = idx.readFilter(PFilter(must = Seq(GeoRadius("lat", "lon", 0.0, 179.99, 50000.0))))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L),
      s"antimeridian circle must find both sides of the seam, got $got")
    // parity with the pure haversine scan
    val viaScan = base.filter(
      PayloadIndexTestHook.haversine(col("lat"), col("lon"), 0.0, 179.99)
        <= 50000.0).select("id").collect().map(_.getLong(0)).toSet
    assert(got === viaScan)
    // west-of-seam center symmetric case
    val west = idx.readFilter(PFilter(must = Seq(GeoRadius("lat", "lon", 0.0, -179.99, 50000.0))))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(west === Set(1L, 2L))
  }

  test("term folding is Locale.ROOT, immune to the default JVM locale") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, text STRING")
    val base = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "CRITICAL Incident Report"),
      org.apache.spark.sql.Row(2L, "routine note")).asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id", lowercaseText = true)
    val dflt = java.util.Locale.getDefault
    try {
      // under tr-TR, String.toLowerCase("INCIDENT") → "ıncıdent"
      // (dotless ı) — a default-locale fold would miss the postings
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val got = idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("INCIDENT")))))
      assert(got.count() === 1L && got.head().getLong(0) === 1L,
        "query-term folding must be Locale.ROOT (ADVICE r9)")
    } finally java.util.Locale.setDefault(dflt)
  }

  test("raw insert runs through the CommitProtocol (markers, disjoint id space)") {
    val root = tmp()
    val idx = build(root)
    val idx2 = idx.insert(corpus().filter(col("id") <= 2)
      .withColumn("id", col("id") + 1000))
    assert(idx2.readFilter().count() === 62L)
    // the batch committed under the protocol, in the ≥ 10⁹ id range —
    // disjoint from streaming checkpoint ids (a raw insert claiming
    // id 0 would make a maintain stream's first batch SKIP silently)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/batches"))
      .map(_.getPath.getName).filter(_.startsWith("batch-"))
      .map(_.stripPrefix("batch-").toLong)
    assert(markers.nonEmpty && markers.forall(_ >= 1000000000L))
    // a second insert allocates the next id — appends, never replays
    val idx3 = idx2.insert(corpus().filter(col("id") === 3)
      .withColumn("id", col("id") + 2000))
    assert(idx3.readFilter().count() === 63L)
    // text postings traveled with both batches: the shifted copies
    // carry the ORIGINAL texts, so each token now matches two rows
    assert(idx3.readFilter(PFilter(must = Seq(MatchText("text", Seq("w1")))))
      .select("id").collect().map(_.getLong(0)).toSet === Set(1L, 1001L))
    assert(idx3.readFilter(PFilter(must = Seq(MatchText("text", Seq("w3")))))
      .select("id").collect().map(_.getLong(0)).toSet === Set(3L, 2003L))
  }

  // ---- the round-10 condition-matrix completion: values_count,
  // has_id, nested, geo_radius/geo_polygon as tree conditions ----

  /** corpus + an array column and an array-of-struct column: id 1-60,
    * arr NULL on %3, empty on %5 (checked FIRST, so 15/30/45 are
    * EMPTY), else (id%4)+1 copies of "v"; elems mirrors the
    * vs_filter_nested derivation.
    */
  private def nestedCorpus(): DataFrame = corpus()
    .withColumn("arr",
      when(col("id") % 5 === 0, array().cast("array<string>"))
        .when(col("id") % 3 === 0, lit(null).cast("array<string>"))
        .otherwise(transform(sequence(lit(1L), col("id") % 4 + 1),
          _ => lit("v"))))
    .withColumn("elems",
      when(col("id") % 5 === 0, array()
        .cast("array<struct<author:string,score:bigint>>"))
        .when(col("id") % 3 === 0,
          lit(null).cast("array<struct<author:string,score:bigint>>"))
        .otherwise(transform(sequence(lit(0L), col("id") % 3), k =>
          struct(concat(lit("u"), ((col("id") + k) % 10).cast("string"))
            .as("author"), ((col("id") * 31 + k * 7) % 100).as("score")))))

  test("values_count: exact array-length window, NULL matches nothing") {
    val root = tmp()
    val base = nestedCorpus()
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("site"), integer = Seq("uid"), idCol = "id", nZones = 3)
    val f = PFilter(must = Seq(ValuesCount("arr", 2, 3), RangeInt("uid", 0, 4)))
    sameRows(idx.readFilter(f).select("id", "arr"),
      base.filter(Filters.toColumn(f)).select("id", "arr"))
    // semantics pinned: NULL arrays match nothing, empties only at lo=0
    val counts = idx.readFilter(
      PFilter(must = Seq(ValuesCount("arr", 0, 0)))).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(counts === (1L to 60L).filter(_ % 5 == 0).toSet,
      s"values_count(0,0) is exactly the EMPTY arrays — NULL arrays " +
        s"(id%3 not %5, e.g. 3, 6) match nothing; got $counts")
    // loud validation: scalar column, inverted bounds
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(ValuesCount("site", 1, 2)))))
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(ValuesCount("arr", 3, 1)))))
  }

  test("has_id: pushed IN-list restriction; empty id set matches nothing") {
    val root = tmp()
    val base = nestedCorpus()
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("site"), integer = Seq("uid"), idCol = "id", nZones = 3)
    val f = PFilter(must = Seq(HasId("id", Seq(3L, 7L, 11L, 400L)),
      RangeInt("uid", 0, 5)))
    sameRows(idx.readFilter(f).select("id"),
      base.filter(Filters.toColumn(f)).select("id"))
    assert(idx.readFilter(f).select("id").collect().map(_.getLong(0)).toSet
      === Set(3L, 7L, 11L))
    assert(base.filter(Filters.toColumn(
      PFilter(must = Seq(HasId("id", Seq.empty))))).isEmpty,
      "an empty has_id set is unsatisfiable, not unconstrained")
  }

  test("nested: inner conditions must hit the SAME element; parity; validation") {
    val root = tmp()
    val base = nestedCorpus()
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("site"), integer = Seq("uid"), idCol = "id", nZones = 3)
    val inner = PFilter(must = Seq(MatchValue("author", "u3"),
      RangeInt("score", 40, 90)))
    val f = PFilter(must = Seq(Nested("elems", inner)))
    sameRows(idx.readFilter(f).select("id"),
      base.filter(Filters.toColumn(f)).select("id"))
    // the discriminator: a hand-built row where author matches element
    // 0 and score matches element 1 but NO single element has both —
    // nested must EXCLUDE it where a flat AND of exists() would admit
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, elems ARRAY<STRUCT<author: STRING, score: BIGINT>>")
    val cross = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(900L, Seq(
        org.apache.spark.sql.Row("u3", 10L),    // author hits, score misses
        org.apache.spark.sql.Row("u9", 50L))),  // score hits, author misses
      org.apache.spark.sql.Row(901L, Seq(
        org.apache.spark.sql.Row("u3", 50L)))   // both on ONE element
      ).asJava, schema)
    val got = cross.filter(Filters.toColumn(
      PFilter(must = Seq(Nested("elems", inner)))))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(901L),
      s"nested semantics are same-element, got $got")
    // flat AND of two single-condition nesteds WOULD admit 900 — the
    // difference nested exists to draw
    val flat = PFilter(must = Seq(
      Nested("elems", PFilter(must = Seq(MatchValue("author", "u3")))),
      Nested("elems", PFilter(must = Seq(RangeInt("score", 40, 90))))))
    assert(cross.filter(Filters.toColumn(flat))
      .collect().map(_.getLong(0)).toSet === Set(900L, 901L))
    // loud validation: non-struct array, unknown element field
    intercept[IllegalArgumentException](idx.readFilter(
      PFilter(must = Seq(Nested("arr", inner)))))
    intercept[IllegalArgumentException](idx.readFilter(
      PFilter(must = Seq(Nested("elems",
        PFilter(must = Seq(MatchValue("missing", "x"))))))))
    // the schema-aware IsEmpty->IsNull rewrite recurses INTO nested
    // bodies: IsEmpty over a SCALAR element field compiles as IsNull
    // (no size()-on-string AnalysisException) and matches nothing on
    // this never-null corpus
    assert(idx.readFilter(PFilter(must = Seq(Nested("elems",
      PFilter(must = Seq(IsEmpty("author"))))))).isEmpty)
  }

  test("range bounds (gt/gte/lt/lte, each optional): exclusivity, open ends, zone pruning") {
    val root = tmp()
    val base = corpus()
    val idx = build(root)
    // exclusive vs inclusive differ exactly at the boundary value:
    // uid ∈ 0..5, so gt=2 drops the uid=2 rows gte=2 keeps
    val gt = idx.readFilter(PFilter(must = Seq(IntBounds("uid", gt = Some(2L)))))
    val gte = idx.readFilter(PFilter(must = Seq(IntBounds("uid", gte = Some(2L)))))
    sameRows(gt.select("id"),
      base.filter(Filters.toColumn(
        PFilter(must = Seq(IntBounds("uid", gt = Some(2L)))))).select("id"))
    assert(gte.count() - gt.count() ===
      base.filter(col("uid") === 2).count(),
      "gte - gt must differ by exactly the boundary rows")
    // open-ended upper: everything above, no hi — and it still prunes
    // (zones whose zmax < lo drop; inclusive selection at the bound)
    val open = PFilter(must = Seq(IntBounds("uid", gt = Some(4L))))
    sameRows(idx.readFilter(open).select("id"),
      base.filter(Filters.toColumn(open)).select("id"))
    val files = scannedFiles(idx.readFilter(open))
    // uid zones: 3 zones over 0..5 — a gt=4 bound must NOT scan the
    // lowest zone's directories (its zmax < 4 on this uniform corpus)
    assert(files.nonEmpty && files.size < scannedFiles(
      idx.readFilter(PFilter(must = Seq(IntBounds("uid", gte = Some(0L)))))).size,
      "an open one-sided bound must still prune zones")
    // half-open composes with the rest of the algebra
    val mixed = PFilter(
      must = Seq(IntBounds("uid", gte = Some(1L), lt = Some(5L))),
      mustNot = Seq(MatchValue("site", "s1")))
    sameRows(idx.readFilter(mixed).select("id"),
      base.filter(Filters.toColumn(mixed)).select("id"))
    // an empty range object is refused loudly
    intercept[IllegalArgumentException](IntBounds("uid"))
    intercept[IllegalArgumentException](FloatBounds("uid"))
    intercept[IllegalArgumentException](
      FloatBounds("uid", gt = Some(Double.PositiveInfinity)))
  }

  test("readFilter residuals PUSH to the parquet scan; total form stays negatable") {
    val root = tmp()
    val base = corpus()
    val idx = build(root)
    // the filter-context compile leaves comparisons raw, so the range
    // and keyword leaves reach PushedFilters (row-group stats pruning
    // INSIDE the selected zone dirs); the coalesce-wrapped total form
    // pushed NOTHING (Coalesce has no source-filter translation)
    val f = PFilter(must = Seq(RangeInt("uid", 1, 4), MatchValue("lang", "en")))
    val scan = idx.readFilter(f).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(uid,1)") &&
      pushed.contains("LessThanOrEqual(uid,4)"), s"got: $pushed")
    // identical rows either way — a filter drops NULL exactly like
    // FALSE (the corpus HAS null langs, so this is load-bearing)
    sameRows(base.filter(Filters.toColumn(f)),
      idx.readFilter(f))
    // and the PUBLIC total form is the one that stays negation-safe:
    // NOT(filter-context form) would DROP null-lang rows a Qdrant
    // must_not must keep
    val neg = base.filter(!Filters.toColumn(
      PFilter(must = Seq(MatchValue("lang", "en")))))
    assert(neg.filter(col("lang").isNull).count() ===
      base.filter(col("lang").isNull).count(),
      "negating the total form must keep NULL payloads")
  }

  test("order_by scroll: zone-ordered pages ≡ global sort, keyset cursor, prefix-only scan") {
    val root = tmp()
    val base = corpus()
    val idx = build(root) // uid integer zones, nZones = 3
    def key(r: org.apache.spark.sql.Row) = (r.getLong(3), r.getLong(0)) // (uid, id)
    val global = base.orderBy(col("uid").asc, col("id").asc)
      .collect().toSeq.map(key)
    // page 1 = the global order's first n, served zone-prefix-only
    val p1 = idx.scrollOrderBy("uid", "id", 20).collect().toSeq
    assert(p1.map(key) === global.take(20))
    // keyset page 2 continues exactly (value in the kind's text form)
    val (lastV, lastId) = key(p1.last)
    val p2 = idx.scrollOrderBy("uid", "id", 20,
      after = Some((lastV.toString, lastId))).collect().toSeq
    assert((p1 ++ p2).map(key) === global.take(40))
    // a small first page scans ONE zone's directories, not the corpus
    // (the 100 TB point of coupling order_by to the range index)
    val zonesScanned = scannedFiles(idx.scrollOrderBy("uid", "id", 5))
      .flatMap("__zone_uid=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
      .toSet
    assert(zonesScanned.size === 1,
      s"a 5-row first page must read one zone's slice, got $zonesScanned")
    // direction: desc — pages walk the zones from the TOP, ties still
    // ascend by id; keyset continues exactly
    val globalDesc = base.orderBy(col("uid").desc, col("id").asc)
      .collect().toSeq.map(key)
    val d1 = idx.scrollOrderBy("uid", "id", 20, descending = true)
      .collect().toSeq
    assert(d1.map(key) === globalDesc.take(20))
    val (dv, di) = key(d1.last)
    val d2 = idx.scrollOrderBy("uid", "id", 20,
      after = Some((dv.toString, di)), descending = true).collect().toSeq
    assert((d1 ++ d2).map(key) === globalDesc.take(40))
    // filter + order_by compose (the Qdrant scroll call shape): the
    // page is the global order of the FILTERED rows
    val pf = PFilter(must = Seq(MatchValue("lang", "en")))
    val filteredGlobal = base
      .filter(Filters.toColumn(pf))
      .orderBy(col("uid").asc, col("id").asc).collect().toSeq.map(key)
    val fp = idx.scrollOrderBy("uid", "id", 10, filter = Some(pf))
      .collect().toSeq
    assert(fp.map(key) === filteredGlobal.take(10))
    // validation: unzoned axes and bad pages are refused loudly
    intercept[IllegalArgumentException](idx.scrollOrderBy("site", "id", 5))
    intercept[IllegalArgumentException](idx.scrollOrderBy("uid", "id", 0))
    intercept[IllegalArgumentException](idx.scrollOrderBy("missing", "id", 5))
  }

  // ---- round 11: phrase as a tree condition, RFC 3339 datetimes,
  // scrollOrderBy hygiene, start_from, the JSON filter wire form ----

  private def buildPositional(root: String): PayloadIndex =
    PayloadIndex.create(spark, corpus(), root,
      keyword = Seq("site", "lang"), integer = Seq("uid"),
      text = Seq("text"), idCol = "id", nZones = 3, positionalText = true)

  test("MatchPhrase as a tree condition: parity, order-sensitivity, positional gate exactness") {
    val posIdx = buildPositional(tmp())
    val base = corpus()
    // phrase + range + negated keyword in ONE tree (the VERDICT r10 #1
    // composition a Qdrant match:{phrase:} user writes)
    val f = PFilter(
      must = Seq(MatchPhrase("text", "alpha beta"), RangeInt("uid", 0, 4)),
      mustNot = Seq(MatchValue("lang", "de")))
    sameRows(posIdx.readFilter(f).select("id"),
      base.filter(Filters.toColumn(f)).select("id"))
    assert(posIdx.readFilter(f).count() > 0)
    // ORDER matters: ids ≡ 0 (mod 4) hold "alpha beta"; no row holds
    // "beta alpha" adjacent — though MatchText (unordered conjunction)
    // matches those same rows. The discriminator phrase exists for.
    val rev = PFilter(must = Seq(MatchPhrase("text", "beta alpha")))
    assert(posIdx.readFilter(rev).isEmpty &&
      base.filter(Filters.toColumn(rev)).isEmpty)
    assert(posIdx.readFilter(
      PFilter(must = Seq(MatchText("text", Seq("beta", "alpha"))))).count() > 0)
    // positional gate EXACTNESS (gate rows = final matches): the
    // phrase-start candidate set IS the phrase match set — the data
    // scan reads only true matches on this route
    val phraseOnly = PFilter(must = Seq(MatchPhrase("text", "alpha beta")))
    val finalIds = posIdx.readFilter(phraseOnly)
      .select("id").collect().map(_.getLong(0)).toSet
    val gateIds = posIdx.phraseStartIds("text", Seq("alpha", "beta"))
      .collect().map(_.getLong(0)).toSet
    assert(gateIds === finalIds,
      s"positional phrase gate must equal final matches: $gateIds vs $finalIds")
    // non-positional index: conjunctive-token gate (a superset), exact
    // rows via the residual — same answer, wider candidates
    val plainIdx = build(tmp())
    sameRows(plainIdx.readFilter(f).select("id"),
      base.filter(Filters.toColumn(f)).select("id"))
    assert(plainIdx.readFilter(rev).isEmpty)
    // phrase in should/min_should groups composes too
    val fShould = PFilter(should = Seq(MatchPhrase("text", "alpha beta"),
      MatchPhrase("text", "gamma delta")))
    sameRows(posIdx.readFilter(fShould).select("id"),
      base.filter(Filters.toColumn(fShould)).select("id"))
    // loud validation: non-text field, empty phrase
    intercept[IllegalArgumentException](
      posIdx.readFilter(PFilter(must = Seq(MatchPhrase("site", "a b")))))
    intercept[IllegalArgumentException](
      posIdx.readFilter(PFilter(must = Seq(MatchPhrase("text", "   ")))))
  }

  test("RFC 3339 datetime parsing: Z, offsets, T separator, fractions, bare dates") {
    def u(s: String): Long = PayloadIndexTestHook.utcMicros(s)
    // Z ≡ the UTC wall-clock form; T ≡ space
    assert(u("2024-01-01T00:00:00Z") === u("2024-01-01 00:00:00"))
    assert(u("2024-01-01T06:30:00") === u("2024-01-01 06:30:00"))
    // offsets normalize to UTC: +02:00 is two hours EARLIER in UTC
    assert(u("2024-01-01T02:00:00+02:00") === u("2024-01-01 00:00:00"))
    assert(u("2023-12-31T18:30:00-05:30") === u("2024-01-01 00:00:00"))
    // fractional seconds survive to the microsecond
    assert(u("2024-01-01T00:00:00.123456Z") - u("2024-01-01 00:00:00") === 123456L)
    // bare dates mean midnight UTC (Qdrant's date form)
    assert(u("2024-03-05") === u("2024-03-05 00:00:00"))
    // RFC 3339 allows lowercase z; java.time's ISO parser does not —
    // the normalization makes it work
    assert(u("2024-01-01T00:00:00z") === u("2024-01-01 00:00:00"))
    // malformed strings refuse loudly
    intercept[java.time.format.DateTimeParseException](u("not a date"))
    // and the INDEX route serves RFC 3339 bounds identically to the
    // wall-clock form (same zones, same residual micros)
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP")
    val rows = (0L until 48L).map { i =>
      org.apache.spark.sql.Row(i,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(i * 3600))) }
    val events = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, events, root,
      keyword = Seq.empty, integer = Seq.empty, datetime = Seq("ts"), nZones = 3)
    val viaRfc = idx.readFilter(PFilter(must = Seq(TimeBounds("ts",
      gte = Some("2024-01-01T12:00:00Z"), lt = Some("2024-01-02T02:00:00+02:00")))))
    val viaWall = idx.readFilter(PFilter(must = Seq(TimeBounds("ts",
      gte = Some("2024-01-01 12:00:00"), lt = Some("2024-01-02 00:00:00")))))
    sameRows(viaRfc, viaWall)
    assert(viaRfc.count() === 12L)
  }

  test("scrollOrderBy hygiene: O(log nZones) probe jobs, postings-gated text filter, start_from") {
    val root = tmp()
    // 8 zones over uid 0..7 so a last-zone-only filter exercises growth
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, uid BIGINT, text STRING")
    val words = Seq("alpha", "beta", "gamma", "delta")
    val rows = (1L to 160L).map { i =>
      org.apache.spark.sql.Row(i, i % 8, s"${words((i % 4).toInt)} w$i") }
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("uid"),
      text = Seq("text"), idCol = "id", nZones = 8)
    // a filter satisfied only in the TOP zone: linear prefix growth
    // would pay one probe per zone (7); geometric pays ≤ log2(8) = 3
    val sel = PFilter(must = Seq(IntBounds("uid", gte = Some(7L))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val page = try {
      val p = idx.scrollOrderBy("uid", "id", 10, filter = Some(sel))
      // count() jobs run synchronously inside the call; drain the
      // (asynchronous) listener bus deterministically before reading
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    // probes at k = 1, 2, 4 (all short) then the loop exits — plus the
    // liveZones manifest reads; a linear prefix would exceed this
    assert(jobs.get() >= 1 && jobs.get() <= 6,
      s"geometric prefix growth must bound probe jobs (got ${jobs.get()})")
    val expect = base.filter(col("uid") >= 7)
      .orderBy(col("uid").asc, col("id").asc).limit(10)
      .collect().toSeq.map(r => r.getLong(0))
    assert(page.collect().toSeq.map(_.getLong(0)) === expect)
    // text arms of the composed filter gate through postings: the page
    // plan semi-joins the posting candidates (a postings-file scan
    // appears in the executed plan) and the answer stays exact
    val ft = PFilter(must = Seq(MatchText("text", Seq("alpha"))))
    val fp = idx.scrollOrderBy("uid", "id", 10, filter = Some(ft))
    // the page plan semi-joins the postings relation (AQE wraps the
    // physical plan pre-execution, so inspect the optimized logical
    // plan's source relations)
    val fpRels = fp.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(fpRels.exists(_.contains("text_text")),
      s"text filter must gate through the postings relation: $fpRels")
    val expectTxt = base.filter(Filters.toColumn(ft))
      .orderBy(col("uid").asc, col("id").asc).limit(10)
      .collect().toSeq.map(_.getLong(0))
    assert(fp.collect().toSeq.map(_.getLong(0)) === expectTxt)
    // start_from (value-only, inclusive) ≡ after with id = -∞, both
    // directions; and both cursor forms at once are refused
    def key(r: org.apache.spark.sql.Row) = (r.getLong(1), r.getLong(0))
    val sf = idx.scrollOrderBy("uid", "id", 15, startFrom = Some("3"))
      .collect().toSeq.map(key)
    val af = idx.scrollOrderBy("uid", "id", 15,
      after = Some(("3", Long.MinValue))).collect().toSeq.map(key)
    assert(sf === af && sf.head._1 === 3L,
      "start_from must begin AT the value, inclusive")
    val sfD = idx.scrollOrderBy("uid", "id", 15, startFrom = Some("4"),
      descending = true).collect().toSeq.map(key)
    val afD = idx.scrollOrderBy("uid", "id", 15,
      after = Some(("4", Long.MinValue)), descending = true)
      .collect().toSeq.map(key)
    assert(sfD === afD && sfD.head._1 === 4L)
    intercept[IllegalArgumentException](idx.scrollOrderBy("uid", "id", 5,
      after = Some(("3", 0L)), startFrom = Some("3")))
  }

  test("order_by on a DATETIME axis: pages, RFC 3339 cursors, start_from") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP")
    val rows = (0L until 96L).map { i =>
      org.apache.spark.sql.Row(i,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds((i % 48) * 3600))) } // duplicate values → id ties
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, datetime = Seq("ts"), nZones = 4)
    def key(r: org.apache.spark.sql.Row) = (r.getTimestamp(1).getTime, r.getLong(0))
    val global = base.orderBy(col("ts").asc, col("id").asc).collect().toSeq.map(key)
    val p1 = idx.scrollOrderBy("ts", "id", 30).collect().toSeq
    assert(p1.map(key) === global.take(30))
    // the keyset cursor takes RFC 3339 — the page-2 value in Z form
    val lastTs = java.time.Instant.ofEpochMilli(key(p1.last)._1).toString
    assert(lastTs.endsWith("Z"))
    val p2 = idx.scrollOrderBy("ts", "id", 30,
      after = Some((lastTs, key(p1.last)._2))).collect().toSeq
    assert((p1 ++ p2).map(key) === global.take(60))
    // start_from in offset form: 12:00+02:00 ≡ 10:00 UTC, inclusive
    val sf = idx.scrollOrderBy("ts", "id", 10,
      startFrom = Some("2024-01-01T12:00:00+02:00")).collect().toSeq
    val expected = base
      .filter(col("ts") >= java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T10:00:00Z")))
      .orderBy(col("ts").asc, col("id").asc).limit(10).collect().toSeq
    assert(sf.map(key) === expected.map(key))
  }

  test("fromJson: the Qdrant wire form parses to the exact condition tree") {
    val got = Filters.fromJson(
      """{"must": [
        |   {"key": "lang", "match": {"value": "en"}},
        |   {"key": "uid", "range": {"gte": 2, "lt": 9}},
        |   {"key": "score", "range": {"gt": 0.5}},
        |   {"key": "ts", "range": {"gte": "2024-01-01T00:00:00Z"}},
        |   {"key": "text", "match": {"phrase": "alpha beta"}},
        |   {"key": "tags", "values_count": {"gte": 1, "lte": 3}},
        |   {"is_null": {"key": "site"}},
        |   {"has_id": [1, 2, 3]},
        |   {"nested": {"key": "elems",
        |     "filter": {"must": [{"key": "author", "match": {"value": "u3"}}]}}}
        | ],
        | "should": [{"key": "site", "match": {"any": ["s1", "s2"]}},
        |            {"key": "text", "match": {"text": "alpha gamma"}}],
        | "must_not": [{"key": "lang", "match": {"except": ["de", "es"]}}],
        | "min_should": {"conditions": [{"is_empty": {"key": "tags"}},
        |   {"key": "lat:lon", "geo_radius":
        |     {"center": {"lat": 40.0, "lon": -100.0}, "radius": 2000.0}}],
        |   "min_count": 1}}""".stripMargin)
    val want = PFilter(
      must = Seq(
        MatchValue("lang", "en"),
        IntBounds("uid", gte = Some(2L), lt = Some(9L)),
        FloatBounds("score", gt = Some(0.5)),
        TimeBounds("ts", gte = Some("2024-01-01T00:00:00Z")),
        MatchPhrase("text", "alpha beta"),
        ValuesCount("tags", 1, 3),
        IsNull("site"),
        HasId("id", Seq(1L, 2L, 3L)),
        Nested("elems", PFilter(must = Seq(MatchValue("author", "u3"))))),
      should = Seq(MatchAny("site", Seq("s1", "s2")),
        MatchText("text", Seq("alpha", "gamma"))),
      mustNot = Seq(MatchExcept("lang", Seq("de", "es"))),
      minShould = Some((Seq(IsEmpty("tags"),
        GeoRadius("lat", "lon", 40.0, -100.0, 2000.0)), 1)))
    assert(got === want)
    // geo box corners map to (latMin, latMax, lonMin, lonMax)
    assert(Filters.fromJson(
      """{"must": [{"key": "lat:lon", "geo_bounding_box":
        |  {"top_left": {"lat": 60.0, "lon": -30.0},
        |   "bottom_right": {"lat": 10.0, "lon": 40.0}}}]}""".stripMargin)
      === PFilter(must = Seq(GeoBox("lat", "lon", 10.0, 60.0, -30.0, 40.0))))
    // unknown clause keys and condition forms refuse loudly — a
    // silently-dropped condition is a wrong answer
    intercept[IllegalArgumentException](
      Filters.fromJson("""{"mustt": []}"""))
    intercept[IllegalArgumentException](
      Filters.fromJson("""{"must": [{"key": "x", "frobnicate": 1}]}"""))
    intercept[IllegalArgumentException](
      Filters.fromJson("""{"must": [{"key": "x", "match": {"regex": "a.*"}}]}"""))
    // and a parsed tree SERVES identically to the hand-built one
    val idx = build(tmp())
    val json = Filters.fromJson(
      """{"must": [{"key": "uid", "range": {"gte": 1, "lte": 4}}],
        | "should": [{"key": "site", "match": {"value": "s1"}},
        |            {"key": "lang", "match": {"value": "en"}}]}""".stripMargin)
    val hand = PFilter(
      must = Seq(IntBounds("uid", gte = Some(1L), lte = Some(4L))),
      should = Seq(MatchValue("site", "s1"), MatchValue("lang", "en")))
    sameRows(idx.readFilter(json), idx.readFilter(hand))
  }

  test("array-payload matching: match = any element, except negated (NULL/empty vacuous), ranges refused") {
    val root = tmp()
    val base = nestedCorpus() // arr: NULL %3, empty %5, else (id%4)+1 × "v"
      .withColumn("arr2",
        when(col("id") % 5 === 0, array().cast("array<string>"))
          .when(col("id") % 3 === 0, lit(null).cast("array<string>"))
          .otherwise(array(col("site"), col("lang"))))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("uid"), idCol = "id", nZones = 3)
    // MatchValue over an array = ANY element equals (the rewrite);
    // "s1" is a site value arr2 actually carries (lang "en" only occurs
    // on id%3==0 rows, whose arr2 is NULL — the vacuous-except case)
    val f = PFilter(must = Seq(MatchValue("arr2", "s1"), RangeInt("uid", 0, 5)))
    val got = idx.readFilter(f).select("id").collect().map(_.getLong(0)).toSet
    val expect = base.filter(coalesce(
      exists(col("arr2"), _ === "s1"), lit(false)) && col("uid").between(0, 5))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === expect && got.nonEmpty)
    // MatchAny = any element in the list; MatchExcept negated — a NULL
    // or empty array matches except VACUOUSLY (no element in the list)
    val fAny = PFilter(must = Seq(MatchAny("arr2", Seq("en", "s1"))))
    assert(idx.readFilter(fAny).count() ===
      base.filter(coalesce(exists(col("arr2"),
        e => e.isin("en", "s1")), lit(false))).count())
    val fEx = PFilter(must = Seq(MatchExcept("arr2", Seq("en"))))
    val exIds = idx.readFilter(fEx).select("id").collect().map(_.getLong(0)).toSet
    // every NULL-array id (id%3, not %5) and empty-array id (%5) matches
    (1L to 60L).filter(i => i % 5 == 0 || i % 3 == 0).foreach(i =>
      assert(exIds.contains(i), s"NULL/empty array must match except: $i"))
    assert(exIds ===
      base.filter(!coalesce(exists(col("arr2"), _ === "en"), lit(false)))
        .select("id").collect().map(_.getLong(0)).toSet)
    // the generic schema validation refuses RANGE conditions on arrays
    import org.apache.spark.sql.types.StructType
    intercept[IllegalArgumentException](
      Filters.validateSchema(RangeInt("arr2", 1, 2),
        base.schema.asInstanceOf[StructType]))
  }

  test("fromJson hardening: empty = match-all, no zero-coercion, antimeridian boxes, missing subkeys") {
    // the empty filter is Qdrant's no-op — matches EVERYTHING (and the
    // compiler's total reduce serves it as lit(true))
    val idx = build(tmp())
    assert(Filters.fromJson("{}") === PFilter())
    assert(Filters.fromJson("""{"must": []}""") === PFilter())
    sameRows(idx.readFilter(PFilter()), corpus())
    // non-numeric values in numeric positions refuse loudly instead of
    // Jackson's silent 0-coercion; a UUID has_id is now the STRING-id
    // condition (r12 — Qdrant ids are u64 OR uuid), never point id 0
    assert(Filters.fromJson(
      """{"must": [{"has_id": ["550e8400-e29b-41d4-a716-446655440000"]}]}""")
      === PFilter(must = Seq(
        HasIdStr("id", Seq("550e8400-e29b-41d4-a716-446655440000")))))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must": [{"key": "lat:lon", "geo_radius":
        |  {"center": {"lat": "forty", "lon": 0}, "radius": 10}}]}""".stripMargin))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must": [{"key": "tags", "values_count": {"gte": "one", "lte": 3}}]}"""))
    // mixed string/number range bounds refuse (would zero-coerce)
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must": [{"key": "uid", "range": {"gte": "2024-01-01", "lt": 5}}]}"""))
    // missing required subkeys refuse with the clause named, never NPE
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"min_should": {"conditions": []}}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must": [{"is_empty": {}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must": [{"nested": {"filter": {"must": []}}}]}"""))
    // an antimeridian-crossing box (top_left.lon > bottom_right.lon)
    // wraps as a should-union of its two halves — a single between()
    // would silently match nothing
    val wrapped = Filters.fromJson(
      """{"must": [{"key": "lat:lon", "geo_bounding_box":
        |  {"top_left": {"lat": 10.0, "lon": 170.0},
        |   "bottom_right": {"lat": -10.0, "lon": -170.0}}}]}""".stripMargin)
    assert(wrapped === PFilter(must = Seq(PFilter(should = Seq(
      GeoBox("lat", "lon", -10.0, 10.0, 170.0, 180.0),
      GeoBox("lat", "lon", -10.0, 10.0, -180.0, -170.0))))))
    import scala.jdk.CollectionConverters._
    val geoSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    val pacific = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 0.0, 175.0),   // west of the seam
      org.apache.spark.sql.Row(2L, 0.0, -175.0),  // east of the seam
      org.apache.spark.sql.Row(3L, 0.0, 0.0)      // far away
      ).asJava, geoSchema)
    assert(pacific.filter(Filters.toColumn(wrapped))
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // lowercase RFC 3339 designators parse (t separator + z zone)
    assert(PayloadIndexTestHook.utcMicros("2024-01-01t06:30:00z") ===
      PayloadIndexTestHook.utcMicros("2024-01-01 06:30:00"))
  }

  test("geo_radius and geo_polygon as tree conditions: parity + cell pruning") {
    val root = tmp()
    val base = corpus()
      .withColumn("lat", (col("id") * 7919 % 18000) / lit(100.0) - 90.0)
      .withColumn("lon", (col("id") * 104729 % 36000) / lit(100.0) - 180.0)
      .select("id", "uid", "lat", "lon")
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("uid"), geo = Seq(("lat", "lon")),
      geoGrid = 16, nZones = 3)
    val fr = PFilter(must = Seq(GeoRadius("lat", "lon", 40.0, -100.0, 2000000.0),
      RangeInt("uid", 0, 4)))
    sameRows(idx.readFilter(fr).select("id"),
      base.filter(Filters.toColumn(fr)).select("id"))
    val poly = Seq((0.25, -60.25), (50.25, -20.25), (10.25, 0.25),
      (50.25, 30.25), (-20.25, 10.25))
    val fp = PFilter(must = Seq(GeoPolygon("lat", "lon", poly)))
    sameRows(idx.readFilter(fp).select("id"),
      base.filter(Filters.toColumn(fp)).select("id"))
    // pruning: the radius read's scanned files stay within the
    // circle's bbox cell cover (2000 km at lat 40 ⇒ ~±18° lat and a
    // widened lon span — compute the SAME cover driver-side)
    val files = scannedFiles(idx.readFilter(fr))
    val dLat = 2000000.0 / 111320.0
    val cos = math.cos(math.toRadians(40.0 + dLat))
    val cover = PayloadIndexTestHook.geoCells(16, 40.0 - dLat, 40.0 + dLat,
      -100.0 - 2000000.0 / (111320.0 * cos), -100.0 + 2000000.0 / (111320.0 * cos))
    assert(files.nonEmpty && files.forall(p => cover.exists(c =>
      p.contains(s"__geo_lat_lon=$c/"))),
      s"radius read must scan only bbox-cover cells")
    // NULL coordinates match neither condition on the scan route
    val nullSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    val nulls = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(999L, null, null)).asJava, nullSchema)
    assert(nulls.filter(Filters.toColumn(PFilter(must = Seq(
      GeoRadius("lat", "lon", 0.0, 0.0, 1e7))))).isEmpty)
    assert(nulls.filter(Filters.toColumn(PFilter(must = Seq(
      GeoPolygon("lat", "lon", poly))))).isEmpty)
  }

  test("fromJson refuses Jackson's silent scalar coercions (ADVICE r11)") {
    // an object/array in a value position asText()s to "" and a JSON
    // null to "null" — each must refuse, not become a wrong condition
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"value":{"nested":"object"}}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"value":["list"]}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"value":null}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"any":["en",null]}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"except":["en",{"x":1}]}}]}"""))
    // scalars still stringify (numbers/bools coerce at compile)
    assert(Filters.fromJson("""{"must":[{"key":"n","match":{"value":7}}]}""")
      === PFilter(must = Seq(MatchValue("n", "7"))))
    assert(Filters.fromJson("""{"must":[{"key":"b","match":{"value":true}}]}""")
      === PFilter(must = Seq(MatchValue("b", "true"))))
    // the structural guard covers EVERY scalar position: text/phrase
    // bodies, is_empty/is_null/nested/has_id keys, has_vector names
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"t","match":{"text":null}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"t","match":{"phrase":{"q":"x"}}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"is_null":{"key":["site"]}}]}"""))
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"has_vector":{"name":"title"}}]}"""))
  }

  test("fromJson: datetime_range alias, uuid has_id, integral-on-float ranges") {
    // datetime_range is Qdrant's separate wire key for datetime bounds —
    // an alias for the string-bounds range form
    val viaAlias = Filters.fromJson(
      """{"must":[{"key":"ts","datetime_range":{"gte":"2024-01-01T00:00:00Z","lt":"2024-02-01"}}]}""")
    val viaRange = Filters.fromJson(
      """{"must":[{"key":"ts","range":{"gte":"2024-01-01T00:00:00Z","lt":"2024-02-01"}}]}""")
    assert(viaAlias === viaRange)
    assert(viaAlias === PFilter(must = Seq(TimeBounds("ts",
      gte = Some("2024-01-01T00:00:00Z"), lt = Some("2024-02-01")))))
    // numeric bounds under datetime_range refuse (it IS the datetime key)
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"ts","datetime_range":{"gte":5}}]}"""))
    // uuid (string) has_id parses to the string-id condition, in both
    // the bare-array and keyed forms
    assert(Filters.fromJson("""{"must":[{"has_id":["a-1","b-2"]}]}""")
      === PFilter(must = Seq(HasIdStr("id", Seq("a-1", "b-2")))))
    assert(Filters.fromJson(
      """{"must":[{"has_id":{"key":"pid","ids":["a-1"]}}]}""")
      === PFilter(must = Seq(HasIdStr("pid", Seq("a-1")))))
    // a MIXED list refuses — one collection has one id type
    intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"has_id":[1,"a-1"]}]}"""))
    // integral range literals against a FLOAT-schema field resolve to
    // the float condition via the schema-aware rewrite (Qdrant accepts
    // {"range": {"gte": 120}} on float fields)
    val intish = Filters.fromJson(
      """{"must":[{"key":"score","range":{"gte":3,"lt":8}}]}""")
    assert(intish === PFilter(must = Seq(IntBounds("score",
      gte = Some(3L), lt = Some(8L)))))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, score DOUBLE")
    assert(Filters.rewriteForSchema(intish, schema) === PFilter(must = Seq(
      FloatBounds("score", gte = Some(3.0), lt = Some(8.0)))))
    // ... and end-to-end through a float-kind index: the integral wire
    // range reads identically to the float-typed one
    val root = tmp()
    val rows = (1L to 40L).map(i => (i, s"t${i % 2}", i * 0.5))
    val schema2 = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, tag STRING, score DOUBLE")
    val base = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema2)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq.empty, float = Seq("score"),
      nZones = 3)
    val viaInt = idx.readFilter(Filters.fromJson(
      """{"must":[{"key":"score","range":{"gte":3,"lte":8}}]}"""))
    val viaFloat = idx.readFilter(PFilter(must = Seq(
      FloatBounds("score", gte = Some(3.0), lte = Some(8.0)))))
    sameRows(viaInt, viaFloat)
    assert(viaInt.count() === 11L) // 3.0, 3.5, ..., 8.0
  }

  test("prefix tokenizer: starts-with postings, fold, length window, refusals") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, corpus(), root,
      keyword = Seq.empty, integer = Seq.empty, text = Seq("text"),
      idCol = "id", lowercaseText = true,
      prefixText = true, prefixMinLen = 2, prefixMaxLen = 4)
    // posting layout: every token is a prefix in the [2, 4] window
    val toks = spark.read.parquet(s"$root/text_text")
      .select("token").distinct().collect().map(_.getString(0))
    assert(toks.nonEmpty)
    assert(toks.forall(t => t.length >= 2 && t.length <= 4),
      s"tokens outside the window: ${toks.filter(t => t.length < 2 || t.length > 4).toSeq}")
    // 'alpha' contributes al/alp/alph but NEVER the whole word (5 > max)
    assert(toks.contains("al") && toks.contains("alph") && !toks.contains("alpha"))
    // STARTS-WITH semantics, indexed ≡ scan: 'alp' matches alpha-rows
    val viaIdx = idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("alp")))))
    val scan = corpus().filter(
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" alp"))
    sameRows(viaIdx, scan)
    assert(viaIdx.count() > 0)
    // ... and the whole-word route would NOT have matched 'alp'
    assert(corpus().filter(concat(lit(" "), lower(col("text")), lit(" "))
      .contains(" alp ")).count() === 0)
    // fold: the query term case-folds like the postings
    sameRows(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("ALP"))))),
      scan)
    // terms LONGER than max_token_len truncate on BOTH sides (Qdrant
    // cuts query tokens too): 'alphx' ≡ 'alph'
    sameRows(
      idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("alphx"))))),
      idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("alph"))))))
    // MatchTextAny unions prefix posting lists
    sameRows(
      idx.readFilter(PFilter(must = Seq(MatchTextAny("text", Seq("alp", "gam"))))),
      corpus().filter(
        concat(lit(" "), lower(col("text")), lit(" ")).contains(" alp") ||
          concat(lit(" "), lower(col("text")), lit(" ")).contains(" gam")))
    // a term below min_token_len has no posting — refuse, never return
    // fewer rows than the scan
    val eShort = intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("a"))))).count())
    assert(eShort.getMessage.contains("at least 2"))
    // phrase matching needs a word tokenizer
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchPhrase("text", "alpha beta")))))
    // the options round-trip through load (a guessed tokenizer would
    // silently serve whole-word semantics from prefix postings)
    val reloaded = PayloadIndex.load(spark, root)
    sameRows(reloaded.readFilter(PFilter(
      must = Seq(MatchText("text", Seq("alp"))))), scan)
    intercept[IllegalArgumentException](
      reloaded.readFilter(PFilter(must = Seq(MatchPhrase("text", "alpha beta")))))
    // exclusive with the positional layout; degenerate windows refuse
    intercept[IllegalArgumentException](PayloadIndex.create(spark, corpus(),
      tmp(), keyword = Seq.empty, integer = Seq.empty, text = Seq("text"),
      idCol = "id", prefixText = true, positionalText = true))
    intercept[IllegalArgumentException](PayloadIndex.create(spark, corpus(),
      tmp(), keyword = Seq.empty, integer = Seq.empty, text = Seq("text"),
      idCol = "id", prefixText = true, prefixMinLen = 5, prefixMaxLen = 4))
  }

  test("match-all filters: honored on read, refused on destructive deleteTo") {
    // structural detection, through nested all-empty sub-filters
    assert(Filters.matchesAll(PFilter()))
    assert(Filters.matchesAll(PFilter(must = Seq(PFilter(), PFilter()))))
    assert(!Filters.matchesAll(PFilter(must = Seq(IsNull("x")))))
    assert(!Filters.matchesAll(PFilter(should = Seq(PFilter()))))
    // SEMANTICALLY-vacuous leaves (ADVICE r12 — the structural check
    // alone let wire-reachable match-everything trees through): an
    // empty except list excludes nothing, i.e. matches everything
    assert(Filters.matchesAll(PFilter(must = Seq(MatchExcept("lang", Nil)))))
    assert(Filters.matchesAll(PFilter(
      must = Seq(PFilter(), MatchExcept("lang", Nil)))))
    assert(!Filters.matchesAll(PFilter(must = Seq(MatchExcept("lang", Seq("de"))))))
    // ... and the wire parse refuses the form outright, naming the fix
    val eEx = intercept[IllegalArgumentException](Filters.fromJson(
      """{"must":[{"key":"lang","match":{"except":[]}}]}"""))
    assert(eEx.getMessage.contains("except"))
    val idx = build(tmp())
    // read path: {} matches everything (the wire convention)
    assert(idx.readFilter(Filters.fromJson("{}")).count() === corpus().count())
    // destructive path: refused loudly — including the directly-built
    // vacuous-except tree the parser can no longer produce
    intercept[IllegalArgumentException](idx.deleteTo(tmp(), PFilter()))
    intercept[IllegalArgumentException](
      idx.deleteTo(tmp(), Filters.fromJson("""{"must":[]}""")))
    intercept[IllegalArgumentException](
      idx.deleteTo(tmp(), PFilter(must = Seq(MatchExcept("lang", Nil)))))
  }

}

/** Test-only window into PayloadIndex's private geometry helpers. */
object PayloadIndexTestHook {
  def geoCells(g: Int, latMin: Double, latMax: Double,
               lonMin: Double, lonMax: Double): Seq[Int] = {
    def cellIdx(v: Double, min: Double, span: Double): Int =
      math.max(0, math.min(g - 1, math.floor((v - min) / span * g).toInt))
    for {
      la <- cellIdx(latMin, -90.0, 180.0) to cellIdx(latMax, -90.0, 180.0)
      lo <- cellIdx(lonMin, -180.0, 360.0) to cellIdx(lonMax, -180.0, 360.0)
    } yield la * g + lo
  }
  def haversine(latC: org.apache.spark.sql.Column,
                lonC: org.apache.spark.sql.Column,
                lat: Double, lon: Double): org.apache.spark.sql.Column =
    graft.api.PayloadIndex.haversineMeters(latC, lonC, lat, lon)
  def utcMicros(s: String): Long = graft.api.PayloadIndex.utcMicros(s)
}
