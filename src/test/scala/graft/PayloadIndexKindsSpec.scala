package graft

import graft.api.PayloadIndex
import graft.api.Filters._
import org.apache.spark.sql.functions._

/** The round-9 PayloadIndex field kinds beyond keyword/integer/text:
  * float and datetime ZONES (the two remaining Qdrant
  * `create_payload_index` field schemas with ordered keys), the GEO
  * fixed-grid bucket axis, and the two text-index options (lowercase
  * folding, positional postings). The contract per kind is the same
  * trio the integer/text kinds carry: (1) indexed predicates PRUNE
  * (scan input ⊆ the matching directories / candidates); (2) routing
  * through the index never changes results vs the scan-filter form;
  * (3) the artifact is self-describing across a fresh load, including
  * ingest widening where a manifest exists.
  */
class PayloadIndexKindsSpec extends SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-pidx-kinds-").toString + "/idx"

  import scala.jdk.CollectionConverters._
  private def fdf(rows: Seq[(Long, String, Double)]) = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, tag STRING, score DOUBLE")
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  // ---------------------------------------------------------- float

  test("float zones prune, answer ranges exactly, and widen on insert") {
    val root = tmp()
    val base = fdf((1L to 80L).map(i => (i, s"t${i % 2}", i * 0.25)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq.empty, float = Seq("score"),
      nZones = 4)
    assert(idx.fields.contains("score" -> "float"))
    // manifest covers the exact double range
    val zs = idx.zones("score").sortBy(_._1)
    assert(zs.head._2 === BigDecimal(0.25) && zs.last._3 === BigDecimal(20.0))
    // pruning: only overlapping zone directories scan
    val all = scannedFiles(idx.readFilter())
    val okZones = idx.zones("score")
      .collect { case (z, lo, hi) if hi >= 18.0 && lo <= 20.0 => z }.toSet
    val pruned = scannedFiles(idx.readFilter(PFilter(must = Seq(RangeFloat("score", 18.0, 20.0)))))
    assert(pruned.nonEmpty && pruned.length < all.length)
    assert(pruned.forall(f => okZones.exists(z => f.contains(s"/__zone_score=$z/"))))
    // result-identical to the scan-filter form (fractional bounds)
    val viaIdx = idx.readFilter(PFilter(must = Seq(RangeFloat("score", 3.1, 7.9))))
    val viaScan = base.filter(col("score") >= 3.1 && col("score") <= 7.9)
    assert(viaIdx.count() === viaScan.count() && viaIdx.count() > 0)
    assert(viaIdx.exceptAll(viaScan).isEmpty && viaScan.exceptAll(viaIdx).isEmpty)
    // the double residual pushes into the parquet scan
    val scan = idx.readFilter(PFilter(must = Seq(RangeFloat("score", 3.1, 7.9))))
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(score,3.1)") &&
      pushed.contains("LessThanOrEqual(score,7.9)"), s"got: $pushed")
    // insert BELOW and ABOVE the indexed range widens the manifest
    val idx2 = idx.insert(fdf(Seq((81L, "t0", -2.5), (82L, "t1", 99.75))))
    val after = idx2.zones("score").sortBy(_._1)
    assert(after.head._2 === BigDecimal(-2.5) && after.last._3 === BigDecimal(99.75))
    assert(idx2.readFilter(PFilter(must = Seq(RangeFloat("score", -3.0, -2.0))))
      .count() === 1L)
    assert(idx2.readFilter(PFilter(must = Seq(RangeFloat("score", 50.0, 100.0))))
      .count() === 1L)
    // a fresh load serves the widened manifest
    assert(PayloadIndex.load(spark, root)
      .readFilter(PFilter(must = Seq(RangeFloat("score", -3.0, 100.0)))).count() === 82L)
    // kind mismatch is refused, not silently scanned
    intercept[IllegalArgumentException](idx.readFilter(PFilter(must = Seq(
      RangeTime("score", "2024-01-01 00:00:00", "2024-01-02 00:00:00")))))
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(RangeInt("tag", 1L, 2L)))))
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(RangeFloat("tag", 1.0, 2.0)))))
  }

  test("order_by scroll over a float axis: non-finite rows excluded, cursor stays finite") {
    val root = tmp()
    // a NaN row sorts ABOVE +Infinity in Spark: unguarded it lands on
    // the last ascending page and the NEXT call's cursor parse
    // (BigDecimal.valueOf) crashes with NumberFormatException
    val base = fdf((1L to 20L).map(i => (i, "t", (21 - i) * 1.0)) :+
      ((21L, "t", Double.NaN)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, float = Seq("score"),
      nZones = 4)
    val p1 = idx.scrollOrderBy("score", "id", 12).collect().toSeq
    val (v, i) = (p1.last.getDouble(2), p1.last.getLong(0))
    val p2 = idx.scrollOrderBy("score", "id", 12,
      after = Some((v.toString, i))).collect().toSeq
    assert((p1 ++ p2).map(_.getLong(0)).toSet === (1L to 20L).toSet,
      "the full walk is exactly the finite rows — NaN never appears")
    assert((p1 ++ p2).map(r => (r.getDouble(2), r.getLong(0))) ===
      base.filter(!isnan(col("score")))
        .orderBy(col("score").asc, col("id").asc)
        .collect().toSeq.map(r => (r.getDouble(2), r.getLong(0))))
    // a non-finite cursor is refused loudly, not parsed into a crash
    intercept[IllegalArgumentException](
      idx.scrollOrderBy("score", "id", 5, after = Some(("NaN", 1L))))
    intercept[IllegalArgumentException](
      idx.scrollOrderBy("score", "id", 5, after = Some(("Infinity", 1L))))
  }

  test("NaN float payloads neither poison the manifest nor match any range") {
    val root = tmp()
    // Spark orders NaN above every double: unguarded, one NaN becomes
    // every max bound and BigDecimal("NaN") crashes the manifest build
    val base = fdf((1L to 20L).map(i => (i, "t", i * 1.0)) :+
      ((21L, "t", Double.NaN)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, float = Seq("score"),
      nZones = 4)
    assert(idx.zones("score").sortBy(_._1).last._3 === BigDecimal(20.0),
      "NaN must not become a manifest bound")
    // a range never matches NaN — both routes agree
    val viaIdx = idx.readFilter(PFilter(must = Seq(RangeFloat("score", 1.0, 1000.0))))
    val viaScan = base.filter(col("score") >= 1.0 && col("score") <= 1000.0)
    assert(viaIdx.count() === 20L && viaIdx.count() === viaScan.count())
    // the NaN row is still IN the layout (full reads serve it)
    assert(idx.readFilter().count() === 21L)
    // inserting more NaN rows stays safe too
    val idx2 = idx.insert(fdf(Seq((22L, "t", Double.NaN), (23L, "t", 50.0))))
    assert(idx2.zones("score").sortBy(_._1).last._3 === BigDecimal(50.0))
    assert(idx2.readFilter(PFilter(must = Seq(RangeFloat("score", 1.0, 1000.0))))
      .count() === 21L)
    assert(idx2.readFilter().count() === 23L)
    // an ENTIRELY NaN float field is refused with the real reason
    val allNaN = fdf((1L to 5L).map(i => (i, "t", Double.NaN)))
    val e = intercept[IllegalArgumentException](
      PayloadIndex.create(spark, allNaN, tmp(),
        keyword = Seq.empty, integer = Seq.empty, float = Seq("score")))
    assert(e.getMessage.contains("score") && e.getMessage.contains("non-finite"))
  }

  test("Infinity float payloads stay out of the manifest; finite ranges exclude them") {
    val root = tmp()
    // ADVICE r9: unguarded, an Infinity payload reaches the manifest as
    // the string 'Infinity' and BigDecimal("Infinity") CRASHES
    // create/widenedFrom/liveZones far from the cause
    val base = fdf((1L to 20L).map(i => (i, "t", i * 1.0)) ++
      Seq((21L, "t", Double.PositiveInfinity),
          (22L, "t", Double.NegativeInfinity)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, float = Seq("score"),
      nZones = 4)
    val bounds = idx.zones("score").sortBy(_._1)
    assert(bounds.last._3 === BigDecimal(20.0) &&
      bounds.head._2 === BigDecimal(1.0),
      "non-finite values must not become manifest bounds")
    // a FINITE range never matches ±Inf (IEEE comparisons) — both routes
    val viaIdx = idx.readFilter(PFilter(must = Seq(RangeFloat("score", -1e300, 1e300))))
    val viaScan = base.filter(col("score") >= -1e300 && col("score") <= 1e300)
    assert(viaIdx.count() === 20L && viaIdx.count() === viaScan.count())
    // the ±Inf rows are still IN the layout (full reads serve them)
    assert(idx.readFilter().count() === 22L)
    // widening across an insert carrying Inf stays safe too
    val idx2 = idx.insert(fdf(Seq(
      (23L, "t", Double.PositiveInfinity), (24L, "t", 50.0))))
    assert(idx2.zones("score").sortBy(_._1).last._3 === BigDecimal(50.0))
    assert(idx2.readFilter(PFilter(must = Seq(RangeFloat("score", 1.0, 1000.0))))
      .count() === 21L)
    // non-finite QUERY bounds are refused loudly — the manifest records
    // finite bounds only, so an infinite bound could silently miss
    val e2 = intercept[IllegalArgumentException](idx2.readFilter(PFilter(must = Seq(
      RangeFloat("score", 0.0, Double.PositiveInfinity)))))
    assert(e2.getMessage.contains("finite"))
  }

  // -------------------------------------------------------- datetime

  private def tsdf(rows: Seq[(Long, String, String)]) =
    fdf(rows.map(r => (r._1, r._2, 0.0))).drop("score")
      .withColumn("ts", to_timestamp(
        element_at(typedLit(rows.map(_._3)), (col("id")).cast("int"))))

  test("datetime zones prune on epoch-micros keys and answer UTC wall-clock ranges") {
    val root = tmp()
    // one row per hour across ~3 days (UTC session — SparkSpecBase)
    val base = fdf((0L to 71L).map(i => (i, s"t${i % 2}", 0.0))).drop("score")
      .withColumn("ts", timestamp_micros(
        unix_micros(to_timestamp(lit("2024-03-01 00:00:00"))) +
          col("id") * 3600000000L))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq.empty, datetime = Seq("ts"),
      nZones = 4)
    assert(idx.fields.contains("ts" -> "datetime"))
    // zone pruning: a one-day window selects a strict subset of files
    val all = scannedFiles(idx.readFilter())
    val win = ("2024-03-02 00:00:00", "2024-03-02 23:00:00")
    val winF = PFilter(must = Seq(RangeTime("ts", win._1, win._2)))
    val loU = BigDecimal(PayloadIndex.utcMicros(win._1))
    val hiU = BigDecimal(PayloadIndex.utcMicros(win._2))
    val okZones = idx.zones("ts")
      .collect { case (z, lo, hi) if hi >= loU && lo <= hiU => z }.toSet
    val pruned = scannedFiles(idx.readFilter(winF))
    assert(pruned.nonEmpty && pruned.length < all.length)
    assert(pruned.forall(f => okZones.exists(z => f.contains(s"/__zone_ts=$z/"))))
    // result-identical to the scan-filter form
    val viaIdx = idx.readFilter(winF)
    val viaScan = base.filter(col("ts") >= to_timestamp(lit(win._1)) &&
      col("ts") <= to_timestamp(lit(win._2)))
    assert(viaIdx.count() === 24L && viaIdx.count() === viaScan.count())
    assert(viaIdx.exceptAll(viaScan).isEmpty && viaScan.exceptAll(viaIdx).isEmpty)
    // the TIMESTAMP residual pushes into the parquet scan (the reason
    // bounds become timestamp literals, not unix_micros(col) forms)
    val scan = viaIdx.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ts,") &&
      pushed.contains("LessThanOrEqual(ts,"), s"got: $pushed")
    // insert beyond the indexed range widens the micros manifest
    val late = base.filter(col("id") === 0L)
      .withColumn("ts", to_timestamp(lit("2024-06-01 12:00:00")))
    val idx2 = idx.insert(late)
    assert(idx2.zones("ts").sortBy(_._1).last._3 ===
      BigDecimal(PayloadIndex.utcMicros("2024-06-01 12:00:00")))
    val lateF = PFilter(must = Seq(
      RangeTime("ts", "2024-05-01 00:00:00", "2024-07-01 00:00:00")))
    assert(idx2.readFilter(lateF).count() === 1L)
    // a stale pre-widening reader still sees the appended row (the
    // newest-committed-manifest read discipline, inherited by the kind)
    assert(PayloadIndex.load(spark, root).readFilter(lateF).count() === 1L)
  }

  // ------------------------------------------------------------- geo

  test("geo grid buckets prune to overlapping cells and never change results") {
    val root = tmp()
    // a global scatter incl. out-of-range coordinates (clamp path) and
    // a NULL coordinate (default-partition path)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    val rows = (1L to 200L).map { i =>
      org.apache.spark.sql.Row(i, (i * 7919 % 18000) / 100.0 - 90.0,
        (i * 104729 % 36000) / 100.0 - 180.0)
    } ++ Seq(org.apache.spark.sql.Row(201L, 123.4, 50.0), // lat out of range
      org.apache.spark.sql.Row(202L, null, 10.0))
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty,
      geo = Seq(("lat", "lon")), geoGrid = 8)
    assert(idx.fields.contains("lat:lon" -> "geo"))
    val box = PFilter(must = Seq(GeoBox("lat", "lon", 10.0, 60.0, -30.0, 40.0)))
    // pruning: scanned files ⊆ the box's overlapping cell directories
    val all = scannedFiles(idx.readFilter())
    val pruned = scannedFiles(idx.readFilter(box))
    assert(pruned.nonEmpty && pruned.length < all.length)
    // cells from the same static map the read used: rows 10..60 lat →
    // cells 4..6, lon -30..40 → cells 3..4 (grid 8)
    val okCells = (for (la <- 4 to 6; lo <- 3 to 4) yield la * 8 + lo).toSet
    assert(pruned.forall(f => okCells.exists(c => f.contains(s"/__geo_lat_lon=$c/"))),
      s"unexpected cell dir in ${pruned.filterNot(f => okCells.exists(c => f.contains(s"/__geo_lat_lon=$c/")))}")
    // result-identical to the scan-filter form (NULL + clamped rows
    // excluded by both routes)
    val viaIdx = idx.readFilter(box)
    val viaScan = base.filter(col("lat") >= 10.0 && col("lat") <= 60.0 &&
      col("lon") >= -30.0 && col("lon") <= 40.0)
    assert(viaIdx.count() === viaScan.count() && viaIdx.count() > 0)
    assert(viaIdx.exceptAll(viaScan).isEmpty && viaScan.exceptAll(viaIdx).isEmpty)
    // clamped out-of-range rows stay findable through a clamped box
    val wide = idx.readFilter(PFilter(must = Seq(
      GeoBox("lat", "lon", 100.0, 130.0, 40.0, 60.0))))
    assert(wide.count() === 1L, "the clamped row must serve from the edge cell")
    // insert lands in the static grid with no manifest protocol
    val idx2 = idx.insert(spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(300L, 30.0, 0.0)).asJava, schema))
    assert(idx2.readFilter(box).count() === viaScan.count() + 1)
    assert(PayloadIndex.load(spark, root).geoGrid === 8)
    assert(PayloadIndex.load(spark, root).readFilter(box)
      .count() === viaScan.count() + 1)
    // an unindexed pair is refused
    intercept[IllegalArgumentException](idx.readFilter(PFilter(must = Seq(
      GeoBox("lon", "lat", 0.0, 1.0, 0.0, 1.0)))))
  }

  test("geo_radius reads prune by the circle's bounding-box cells with an exact haversine residual") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lat DOUBLE, lon DOUBLE")
    val rows = (1L to 300L).map { i =>
      org.apache.spark.sql.Row(i, (i * 7919 % 18000) / 100.0 - 90.0,
        (i * 104729 % 36000) / 100.0 - 180.0)
    }
    val base = spark.createDataFrame(rows.asJava, schema)
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty,
      geo = Seq(("lat", "lon")), geoGrid = 8)
    val (cLat, cLon, r) = (45.0, 10.0, 2.0e6) // 2000 km around the Alps
    def radius(la: String, lo: String, lat: Double, lon: Double, m: Double) =
      idx.readFilter(PFilter(must = Seq(GeoRadius(la, lo, lat, lon, m))))
    val got = radius("lat", "lon", cLat, cLon, r)
    val truth = base.filter(
      PayloadIndex.haversineMeters(col("lat"), col("lon"), cLat, cLon) <= r)
    assert(got.count() === truth.count() && got.count() > 0)
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty)
    // the radius route scans fewer files than a full read (cell pruning)
    val all = scannedFiles(idx.readFilter())
    val pruned = scannedFiles(radius("lat", "lon", cLat, cLon, r))
    assert(pruned.nonEmpty && pruned.length < all.length)
    // a polar circle degenerates to the full lon range and still
    // answers exactly (the cos(lat) -> 0 guard)
    val polar = radius("lat", "lon", 89.0, 0.0, 5.0e5)
    val polarTruth = base.filter(
      PayloadIndex.haversineMeters(col("lat"), col("lon"), 89.0, 0.0) <= 5.0e5)
    assert(polar.count() === polarTruth.count())
    // refused off-index and on invalid centers
    intercept[IllegalArgumentException](radius("lon", "lat", 0.0, 0.0, 1.0))
    intercept[IllegalArgumentException](radius("lat", "lon", 200.0, 0.0, 1.0))
  }

  // -------------------------------------------------- lowercase text

  private def txt(rows: Seq[(Long, String)]) = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, text STRING")
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  test("a lowercased text index serves case-insensitive MatchText from folded postings") {
    val root = tmp()
    val corpus = txt(Seq(
      (1L, "The Data pipeline"), (2L, "the data lake"),
      (3L, "THE DATA WAREHOUSE"), (4L, "the metadata catalog"),
      (5L, "no match here"), (6L, "Data the reversed")))
    val idx = PayloadIndex.create(spark, corpus, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id", lowercaseText = true)
    assert(idx.lowercase)
    // matchText is case-insensitive regardless of query-term case —
    // the folded postings ARE the case-insensitive index
    val ci = idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("The", "DATA")))))
    val truth = corpus.filter(
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" the ") &&
        concat(lit(" "), lower(col("text")), lit(" ")).contains(" data "))
    assert(ci.count() === 4L && ci.count() === truth.count())
    assert(ci.exceptAll(truth).isEmpty && truth.exceptAll(ci).isEmpty)
    // folded candidates ⊇ every case-insensitive match on a mixed-case
    // corpus (the r8 wart this option deletes: a case-exact index
    // could not serve this predicate at all)
    assert(ci.filter(col("id") === 3L).count() === 1L,
      "the ALL-CAPS row must be found by the folded index")
    // the token-substring prefilter folds too — a case-insensitive
    // caller predicate may use it on a mixed-case literal now
    val pre = idx.readWithTokenSubstring("text", "DaTa")
    val subTruth = corpus.filter(lower(col("text")).contains("data"))
    assert(pre.count() === subTruth.count())
    assert(pre.exceptAll(subTruth).isEmpty && subTruth.exceptAll(pre).isEmpty)
    // phrase matching folds: adjacency + order, any case
    val ph = idx.readFilter(PFilter(must = Seq(MatchPhrase("text", "ThE dAtA"))))
    val phTruth = corpus.filter(
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" the data "))
    assert(ph.count() === 3L && ph.count() === phTruth.count())
    // the option survives a fresh load
    val re = PayloadIndex.load(spark, root)
    assert(re.lowercase && !re.positional)
    assert(re.readFilter(PFilter(must = Seq(MatchText("text", Seq("warehouse")))))
      .count() === 1L)
    // inserts fold their postings like the build did
    val idx2 = idx.insert(txt(Seq((7L, "More DATA Arrives"))))
    assert(idx2.readFilter(PFilter(must = Seq(MatchText("text", Seq("data", "ARRIVES")))))
      .count() === 1L)
  }

  // ------------------------------------------------- positional text

  test("positional postings compute phrase adjacency; the data scan reads only final candidates") {
    val root = tmp()
    val corpus = txt(Seq(
      (1L, "the data pipeline"), (2L, "the big data lake"),
      (3L, "data the reversed"), (4L, "the data the data"),
      (5L, "the  data double-spaced"), (6L, "unrelated words")))
    val idx = PayloadIndex.create(spark, corpus, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id", positionalText = true)
    assert(idx.positional)
    def phrase(ix: PayloadIndex, p: String) =
      ix.readFilter(PFilter(must = Seq(MatchPhrase("text", p))))
    val ph = phrase(idx, "the data")
    val truth = corpus.filter(
      concat(lit(" "), col("text"), lit(" ")).contains(" the data "))
    // rows 1 and 4 only: row 2 is non-adjacent, row 3 reversed, row 5
    // double-spaced (the padded-contains scan form misses it too —
    // position gaps mirror that, see writePostings scaladoc)
    assert(ph.count() === 2L && ph.count() === truth.count())
    assert(ph.exceptAll(truth).isEmpty && truth.exceptAll(ph).isEmpty)
    // THE claim of the positional route: the data-side candidate gate
    // admits ONLY final candidates — for this phrase of common words
    // the conjunctive prefilter would admit rows 2/3/5 as well, and the
    // text residual would read them all. Measured on the executed
    // plan's semi-join output metric (AQE off so the static plan's
    // metric nodes are the executed ones).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = phrase(idx, "the data").queryExecution
      val n = qe.executedPlan.executeCollect().length
      val gateRows = qe.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.map(_.metrics("numOutputRows").value).sum
      assert(gateRows === n,
        s"candidate gate admitted $gateRows rows for $n final matches")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the phrase route's postings scan still pushes the token-IN and
    // column-prunes to exactly (token, __pid, pos) on the positional
    // layout — the non-positional pushed-IN spec's claim, re-proven
    // under the wider schema
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val postingsScan =
      try phrase(idx, "the data")
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "pos") => s
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(postingsScan.nonEmpty, "plan must scan the positional postings")
    val pushed = postingsScan.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(token, [data,the])") ||
      pushed.contains("In(token, [the,data])"), s"got: $pushed")
    assert(postingsScan.head.output.map(_.name).toSet ===
      Set("token", "__pid", "pos"))
    // order still matters
    assert(phrase(idx, "data the").count() ===
      corpus.filter(concat(lit(" "), col("text"), lit(" "))
        .contains(" data the ")).count())
    // a phrase with a REPEATED token demands every offset at one start
    assert(phrase(idx, "the data the").count() === 1L)
    assert(phrase(idx, "data data").count() === 0L)
    // single-word phrases degrade to whole-word match
    assert(phrase(idx, "data").count() ===
      corpus.filter(concat(lit(" "), col("text"), lit(" "))
        .contains(" data ")).count())
    // inserts carry positions; a fresh load keeps the flag
    val idx2 = idx.insert(txt(Seq((7L, "fresh the data row"))))
    assert(phrase(idx2, "the data").count() === 3L)
    assert(PayloadIndex.load(spark, root).positional)
    assert(phrase(PayloadIndex.load(spark, root), "the data").count() === 3L)
    // matchText (bag-of-words) still serves off the positional layout
    // (rows 1-5 — the double-spaced row holds both words — plus row 7)
    assert(idx2.readFilter(PFilter(must = Seq(MatchText("text", Seq("the", "data")))))
      .count() === 6L)
  }

  test("lowercase and positional compose on one index") {
    val root = tmp()
    val corpus = txt(Seq(
      (1L, "The Data pipeline"), (2L, "big DATA the lake"),
      (3L, "THE DATA warehouse")))
    val idx = PayloadIndex.create(spark, corpus, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id",
      lowercaseText = true, positionalText = true)
    val ph = idx.readFilter(PFilter(must = Seq(MatchPhrase("text", "the DATA"))))
    val truth = corpus.filter(
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" the data "))
    assert(ph.count() === 2L && ph.count() === truth.count())
    assert(ph.exceptAll(truth).isEmpty && truth.exceptAll(ph).isEmpty)
    val re = PayloadIndex.load(spark, root)
    assert(re.lowercase && re.positional)
    assert(re.readFilter(PFilter(must = Seq(MatchPhrase("text", "THE data"))))
      .count() === 2L)
  }

  test("the advisor emits float/datetime/integer verdicts from schema types") {
    import graft.operators.VectorStore
    val verdicts = VectorStore.payloadIndexPlanFor(
      Tables.events(spark, sf), Seq("value", "ts", "user_id", "event_type"))
      .select("field", "index_kind")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(verdicts("value") === "float",
      "a fractional payload is range-filtered — float zones, not text")
    assert(verdicts("ts") === "datetime")
    assert(verdicts("user_id") === "integer")
    assert(verdicts("event_type") === "keyword")
    // a BOOLEAN payload verdicts as the bool kind (r12 — the last
    // Qdrant field_schema value)
    val withBool = Tables.events(spark, sf)
      .withColumn("flag", col("user_id") % 2 === 0)
    assert(graft.operators.VectorStore
      .payloadIndexPlanFor(withBool, Seq("flag"))
      .select("index_kind").head().getString(0) === "bool")
    // the points advisor (the oracle row) is unchanged by the
    // generalization: user_id now verdicts by TYPE, same answer
    val pts = VectorStore.payloadIndexPlan(spark, sf)
      .select("field", "index_kind")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pts("user_id") === "integer" && pts("site") === "keyword")
  }

  test("the five new indexed VectorStore routes equal their scan-filter twins") {
    import graft.operators.VectorStore
    // positional phrase route ≡ the padded-contains scan route
    assert(VectorStore.searchMatchPhraseIndexed(spark, sf).collect().toSeq ===
      VectorStore.searchMatchPhrase(spark, sf).collect().toSeq)
    // geo-bucket route ≡ the box scan route
    assert(VectorStore.geoSearchIndexed(spark, sf).collect().toSeq ===
      VectorStore.geoSearch(spark, sf).collect().toSeq)
    // case-insensitive MatchText ≡ the folded scan form
    val pts = Tables.points(spark, sf)
    val ciTruth = pts.filter(col("id") =!= 0 &&
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" the ") &&
      concat(lit(" "), lower(col("text")), lit(" ")).contains(" data "))
      .select("id")
    val ci = VectorStore.searchMatchTextCiIndexed(spark, sf, k = 100000)
    assert(ci.count() === ciTruth.count() && ci.count() > 0)
    assert(ci.select("id").exceptAll(ciTruth).isEmpty)
    // float range ≡ the value scan form
    val ev = Tables.events(spark, sf)
    val vr = VectorStore.eventsValueRangeIndexed(spark, sf)
    val vrTruth = ev.filter(col("event_type").isin("click", "view") &&
      col("value").between(120.0, 150.0))
      .select("event_id", "user_id", "value")
    assert(vr.count() === vrTruth.count() && vr.count() > 0)
    assert(vr.exceptAll(vrTruth).isEmpty && vrTruth.exceptAll(vr).isEmpty)
    // datetime window ≡ the timestamp scan form
    val tw = VectorStore.eventsTsRangeIndexed(spark, sf)
    val twTruth = ev.filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
      col("ts") <= to_timestamp(lit("2024-01-11 23:59:59")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        countDistinct("user_id").as("n_users"))
    assert(tw.count() === twTruth.count() && tw.count() > 0)
    assert(tw.exceptAll(twTruth).isEmpty && twTruth.exceptAll(tw).isEmpty)
  }

  test("SnapshotGc reclaims rotated zone manifests without breaking range reads") {
    import graft.api.SnapshotGc
    val root = tmp()
    val base = fdf((1L to 32L).map(i => (i, "t", i * 1.0)))
    var idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, float = Seq("score"), nZones = 4)
    // five inserts rotate five widened manifest generations
    (1 to 5).foreach(i => idx = idx.insert(fdf(Seq((100L + i, "t", 100.0 + i)))))
    val zonesDir = new java.io.File(s"$root/zones")
    assert(zonesDir.listFiles().count(_.getName.startsWith("gen-")) === 6)
    val executed = SnapshotGc.run(spark, s"$root/zones", keepHistory = 1)
    assert(executed.count(_.action == "delete") === 4)
    assert(zonesDir.listFiles().count(_.getName.startsWith("gen-")) === 2)
    // reads resolve the surviving live manifest: the fully-widened one
    val re = PayloadIndex.load(spark, root)
    assert(re.zones("score").sortBy(_._1).last._3 === BigDecimal(105.0))
    assert(re.readFilter(PFilter(must = Seq(RangeFloat("score", 100.0, 200.0))))
      .count() === 5L)
    assert(re.readFilter().count() === 37L)
  }

  test("every field kind composes on ONE index through create, ingest and load") {
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, tag STRING, uid BIGINT, score DOUBLE, ts TIMESTAMP, " +
        "text STRING, lat DOUBLE, lon DOUBLE")
    def mk(rows: Seq[(Long, String, Long, Double, String, String, Double, Double)]) =
      spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(
        r._1, r._2, r._3, r._4, java.sql.Timestamp.valueOf(r._5), r._6, r._7, r._8))
        .asJava, schema)
    val base = mk((1L to 48L).map(i => (i, s"t${i % 2}", i % 6, i * 0.5,
      f"2024-04-${i % 28 + 1}%02d 12:00:00",
      if (i % 3 == 0) s"Alpha Beta doc $i" else s"gamma delta doc $i",
      i * 3.0 - 72.0, i * 7.0 - 168.0)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4,
      text = Seq("text"), idCol = "id",
      float = Seq("score"), datetime = Seq("ts"),
      geo = Seq(("lat", "lon")), geoGrid = 8,
      lowercaseText = true, positionalText = true)
    // one read composing EVERY axis at once — each predicate prunes its
    // own way, the result equals the scan-filter conjunction
    def composed(ix: PayloadIndex) = ix.readFilter(PFilter(must = Seq(
      MatchAny("tag", Seq("t0")),
      RangeInt("uid", 0L, 3L),
      RangeFloat("score", 1.0, 20.0),
      RangeTime("ts", "2024-04-02 00:00:00", "2024-04-27 23:59:59"),
      GeoBox("lat", "lon", -60.0, 60.0, -120.0, 120.0),
      MatchText("text", Seq("ALPHA", "beta")))))
    def truth(df: org.apache.spark.sql.DataFrame) = df.filter(
      col("tag") === "t0" && col("uid").between(0L, 3L) &&
        col("score").between(1.0, 20.0) &&
        col("ts").between(to_timestamp(lit("2024-04-02 00:00:00")),
          to_timestamp(lit("2024-04-27 23:59:59"))) &&
        col("lat").between(-60.0, 60.0) && col("lon").between(-120.0, 120.0) &&
        concat(lit(" "), lower(col("text")), lit(" ")).contains(" alpha ") &&
        concat(lit(" "), lower(col("text")), lit(" ")).contains(" beta "))
    val got = composed(idx)
    assert(got.count() === truth(base).count() && got.count() > 0)
    assert(got.exceptAll(truth(base)).isEmpty && truth(base).exceptAll(got).isEmpty)
    // ingest through BOTH paths: at-least-once insert widens every
    // manifest; exactly-once insertCommitted replays as a no-op
    val b1 = mk(Seq((100L, "t0", 2L, 7.5, "2024-04-10 12:00:00",
      "Alpha Beta newcomer", 10.0, 10.0)))
    val idx2 = idx.insert(b1)
    val b2 = mk(Seq((101L, "t0", 99L, 999.5, "2024-09-01 00:00:00",
      "alpha beta straggler", 20.0, 20.0)))
    val idx3 = idx2.insertCommitted(b2, 5L)
    assert(idx3.insertCommitted(b2, 5L).readFilter().count() === 50L, "replay must skip")
    // the committed batch widened zones: only the widened manifests can
    // route these reads
    assert(idx3.readFilter(PFilter(must = Seq(RangeInt("uid", 90L, 100L)))).count() === 1L)
    assert(idx3.readFilter(PFilter(must = Seq(RangeFloat("score", 900.0, 1000.0))))
      .count() === 1L)
    assert(idx3.readFilter(PFilter(must = Seq(
      RangeTime("ts", "2024-08-01 00:00:00", "2024-10-01 00:00:00")))).count() === 1L)
    // a fresh load serves the composed read with both ingested rows
    val all = mk(Seq.empty).unionByName(base).unionByName(b1).unionByName(b2)
    val reloaded = PayloadIndex.load(spark, root)
    assert(reloaded.lowercase && reloaded.positional && reloaded.geoGrid === 8)
    val got3 = composed(reloaded)
    assert(got3.count() === truth(all).count())
    assert(got3.exceptAll(truth(all)).isEmpty && truth(all).exceptAll(got3).isEmpty)
    // phrase route still positional+folded over the grown layout
    assert(reloaded.readFilter(PFilter(must = Seq(MatchPhrase("text", "ALPHA beta"))))
      .count() ===
      all.filter(concat(lit(" "), lower(col("text")), lit(" "))
        .contains(" alpha beta ")).count())
  }

  test("insertCommitted stays exactly-once across the new partition kinds") {
    // the CommitProtocol invariants under a float zone + geo bucket
    // layout: replay skips, the batch lands once, zones widen
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, score DOUBLE, lat DOUBLE, lon DOUBLE")
    def g(rows: Seq[(Long, Double, Double, Double)]) =
      spark.createDataFrame(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)).asJava, schema)
    val base = g((1L to 40L).map(i => (i, i * 0.5, i * 2.0 - 41.0, i * 4.0 - 82.0)))
    PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq.empty, float = Seq("score"),
      geo = Seq(("lat", "lon")), geoGrid = 4, nZones = 4)
    val batch = g(Seq((41L, 77.5, 10.0, 10.0)))
    val idx2 = PayloadIndex.load(spark, root).insertCommitted(batch, 1L)
    assert(idx2.readFilter().count() === 41L)
    assert(idx2.insertCommitted(batch, 1L).readFilter().count() === 41L, "replay must skip")
    assert(idx2.zones("score").sortBy(_._1).last._3 === BigDecimal(77.5))
    assert(idx2.readFilter(PFilter(must = Seq(RangeFloat("score", 70.0, 80.0))))
      .count() === 1L)
    val boxTruth = base.filter(col("lat").between(5.0, 15.0) &&
      col("lon").between(5.0, 15.0)).count()
    assert(idx2.readFilter(PFilter(must = Seq(GeoBox("lat", "lon", 5.0, 15.0, 5.0, 15.0))))
      .count() === boxTruth + 1)
  }

  // ----------------------------------------------------------- bool

  test("bool kind: true/false/null partitions prune, parity, insert, load") {
    // the LAST Qdrant field_schema value (VERDICT r11 #3): a two-value
    // keyword axis — match prunes to one directory set, NULL flags
    // live in the default partition, the same kind-contract trio
    val root = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, flag BOOLEAN, v BIGINT")
    def g(rows: Seq[(Long, java.lang.Boolean, Long)]) =
      spark.createDataFrame(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    val base = g((1L to 60L).map(i =>
      (i, if (i % 7 == 0) null
          else java.lang.Boolean.valueOf(i % 2 == 0), i % 10)))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("v"), bool = Seq("flag"), nZones = 3)
    assert(idx.fields.contains("flag" -> "bool"))
    // pruning: the match reads ONLY flag=true directories
    val viaIdx = idx.readFilter(PFilter(must = Seq(MatchValue("flag", "true"))))
    val files = viaIdx.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("/flag=true/")),
      s"bool match must prune to its value directory (got $files)")
    // parity with the scan route, NULLs excluded by two-valued semantics
    val truth = base.filter(coalesce(col("flag") === true, lit(false)))
    assert(viaIdx.count() === truth.count() && viaIdx.count() > 0)
    assert(viaIdx.exceptAll(truth).isEmpty && truth.exceptAll(viaIdx).isEmpty)
    // is_null prunes to the default partition alone; except matches it
    val nullRows = idx.readFilter(PFilter(must = Seq(IsNull("flag"))))
    assert(nullRows.count() === base.filter(col("flag").isNull).count())
    assert(idx.readFilter(PFilter(must = Seq(MatchExcept("flag", Seq("true")))))
      .count() === base.filter(
        !coalesce(col("flag") === true, lit(false))).count())
    // composes with zones in one tree
    val composed = idx.readFilter(PFilter(
      must = Seq(MatchValue("flag", "false"), RangeInt("v", 2, 6))))
    assert(composed.count() === base.filter(
      coalesce(col("flag") === false, lit(false)) &&
        col("v").between(2, 6)).count())
    // an any-of match prunes the bool axis too
    assert(idx.readFilter(PFilter(must = Seq(MatchAny("flag", Seq("true")))))
      .count() === truth.count())
    // insert keeps the axis; a fresh load is self-describing
    val idx2 = idx.insert(g(Seq((61L, true, 3L), (62L, null, 4L))))
    assert(idx2.readFilter(PFilter(must = Seq(MatchValue("flag", "true"))))
      .count() === truth.count() + 1)
    assert(PayloadIndex.load(spark, root)
      .readFilter(PFilter(must = Seq(IsNull("flag")))).count() ===
        base.filter(col("flag").isNull).count() + 1)
    // a non-boolean column under `bool` refuses at build
    intercept[IllegalArgumentException](PayloadIndex.create(spark, base,
      tmp(), keyword = Seq.empty, integer = Seq.empty, bool = Seq("v")))
  }
}
