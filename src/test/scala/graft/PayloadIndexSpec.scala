package graft

import graft.api.PayloadIndex
import graft.api.Filters._
import graft.operators.VectorStore
import org.apache.spark.sql.functions._

/** The persisted payload-field index: Qdrant's `create_payload_index`
  * as a layout artifact. The contract under test: (1) indexed
  * predicates PRUNE — the scan's input files are only the matching
  * partition/zone directories; (2) routing through the index never
  * changes results; (3) the artifact is self-describing across a
  * fresh load.
  */
class PayloadIndexSpec extends SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-pidx-").toString + "/idx"

  private lazy val pts = Tables.points(spark, sf)

  /** The files the PLANNED scan actually selects after partition
    * pruning (Dataset.inputFiles ignores pruning — it lists the whole
    * relation).
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  test("create lays out keyword partitions and integer zones with a manifest") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("site", "lang"), integer = Seq("user_id"), nZones = 8)
    assert(idx.fields.toSet ===
      Set("site" -> "keyword", "lang" -> "keyword", "user_id" -> "integer"))
    // layout: data/site=…/lang=…/__zone_user_id=…
    val dataDir = new java.io.File(s"$root/data")
    val sites = dataDir.listFiles().filter(_.getName.startsWith("site="))
    assert(sites.nonEmpty, "keyword field must become partition directories")
    assert(sites.head.listFiles().exists(_.getName.startsWith("lang=")))
    // zone map covers the whole value range, zones are disjoint-ordered
    val zs = idx.zones("user_id").sortBy(_._1)
    assert(zs.nonEmpty)
    val (lo, hi) = (pts.agg(min("user_id")).head().getLong(0),
      pts.agg(max("user_id")).head().getLong(0))
    assert(zs.head._2 === lo && zs.last._3 === hi)
    zs.sliding(2).foreach {
      case Seq((_, _, aMax), (_, bMin, _)) => assert(aMax <= bMin)
      case _ =>
    }
    // immutable artifact: same-root create refuses
    intercept[IllegalArgumentException](
      PayloadIndex.create(spark, pts, root, Seq("lang"), Seq.empty))
  }

  test("keyword and zone predicates prune the scan to matching directories only") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("site", "lang"), integer = Seq("user_id"), nZones = 8)
    val all = scannedFiles(idx.readFilter())
    // keyword pruning: only lang=en / lang=fr directories scan
    val kw = scannedFiles(idx.readFilter(PFilter(must = Seq(
      MatchAny("lang", Seq("en", "fr"))))))
    assert(kw.nonEmpty && kw.length < all.length)
    assert(kw.forall(f => f.contains("/lang=en/") || f.contains("/lang=fr/")),
      s"unpruned file in keyword read: ${kw.find(f => !f.contains("/lang="))}")
    // zone pruning: only zones whose [min,max] overlaps the range scan
    val okZones = idx.zones("user_id")
      .collect { case (z, zmin, zmax) if zmax >= 3L && zmin <= 3L => z }.toSet
    val zr = scannedFiles(idx.readFilter(PFilter(must = Seq(RangeInt("user_id", 3, 3)))))
    assert(zr.nonEmpty && zr.length < all.length)
    assert(zr.forall(f => okZones.exists(z => f.contains(s"/__zone_user_id=$z/"))),
      "zone read scanned a non-overlapping zone directory")
    // composed predicates prune on BOTH axes at once
    val both = scannedFiles(idx.readFilter(PFilter(must = Seq(
      MatchAny("lang", Seq("en")), RangeInt("user_id", 3, 3)))))
    assert(both.length <= math.min(kw.length, zr.length))
  }

  test("reading through the index is result-identical to the scan-filter form") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("site", "lang"), integer = Seq("user_id"), nZones = 8)
    val viaIdx = idx.readFilter(PFilter(must = Seq(
      MatchAny("lang", Seq("en", "fr")), RangeInt("user_id", 2, 7))))
    val viaScan = pts.filter(col("lang").isin("en", "fr") &&
      col("user_id").between(2L, 7L))
    assert(viaIdx.columns.toSeq === pts.columns.toSeq,
      "index read must restore the original schema order")
    assert(viaIdx.count() === viaScan.count())
    assert(viaIdx.exceptAll(viaScan).isEmpty && viaScan.exceptAll(viaIdx).isEmpty)
    // a match on an unindexed column is residual-only (the scan's rows);
    // a range on a field not indexed as integer, or a condition on a
    // column the collection lacks, is refused
    val unindexed = idx.readFilter(PFilter(must = Seq(MatchAny("id", Seq("1", "2", "3")))))
    val unindexedScan = pts.filter(col("id").isin(1L, 2L, 3L))
    assert(unindexed.count() === 3L)
    assert(unindexed.exceptAll(unindexedScan).isEmpty &&
      unindexedScan.exceptAll(unindexed).isEmpty)
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(RangeInt("seq", 0, 1)))))
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchAny("nosuch", Seq("x"))))))
  }

  test("load reopens the artifact and serves identical pruned reads") {
    val root = tmp()
    PayloadIndex.create(spark, pts, root,
      keyword = Seq("lang"), integer = Seq("user_id"), nZones = 4)
    val idx = PayloadIndex.load(spark, root)
    assert(idx.fields === Seq("lang" -> "keyword", "user_id" -> "integer"))
    val viaLoad = idx.readFilter(PFilter(must = Seq(MatchAny("lang", Seq("en")))))
    assert(scannedFiles(viaLoad).forall(_.contains("/lang=en/")))
    val direct = pts.filter(col("lang") === "en")
    assert(viaLoad.count() === direct.count())
    assert(viaLoad.exceptAll(direct).isEmpty)
  }

  test("indexed filtered search equals the scan-filter search exactly") {
    val viaIdx = VectorStore.searchTopKFilteredIndexed(spark, sf).collect().toSeq
    val viaScan = VectorStore.searchTopKFiltered(spark, sf).collect().toSeq
    assert(viaIdx === viaScan)
    assert(viaIdx.nonEmpty)
  }

  // ------------------------------------------------------- text kind

  test("matchText through the text postings equals the whole-word scan filter") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("lang"), integer = Seq("user_id"),
      text = Seq("text"), idCol = "id")
    val terms = Seq("the", "data")
    val viaIdx = idx.readFilter(PFilter(must = Seq(MatchText("text", terms))))
    val padded = concat(lit(" "), col("text"), lit(" "))
    val viaScan = pts.filter(terms.map(t => padded.contains(s" $t ")).reduce(_ && _))
    assert(viaIdx.count() === viaScan.count())
    assert(viaIdx.count() > 0, "gate terms must match some corpus rows")
    assert(viaIdx.exceptAll(viaScan).isEmpty && viaScan.exceptAll(viaIdx).isEmpty)
    // composes with the other axes: every predicate prunes its own way
    val composed = idx.readFilter(PFilter(must = Seq(
      MatchAny("lang", Seq("en")), MatchText("text", terms))))
    val composedScan = viaScan.filter(col("lang") === "en")
    assert(composed.count() === composedScan.count())
    // unindexed text fields are refused
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchText("site", terms)))))
    // a whitespace-carrying term can never equal a split-token — it
    // would silently match nothing where the scan form matches
    // adjacent words, so it is refused toward a MatchPhrase condition
    val e = intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("the data"))))))
    assert(e.getMessage.contains("MatchPhrase"))
  }

  test("the matchText plan reads only the query terms' posting lists (pushed IN)") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id")
    // AQE off for the assertion only: the adaptive wrapper hides the
    // scan nodes behind query stages; the pushdown under test is
    // planning-time and identical either way
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val postingsScan =
      try idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("the", "data")))))
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "token") => s
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(postingsScan.nonEmpty, "plan must scan the postings relation")
    val pushed = postingsScan.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(token, [data,the])") ||
      pushed.contains("In(token, [the,data])"),
      s"token IN must push to the postings scan, got: $pushed")
    // and the postings scan is column-pruned to the two posting columns
    assert(postingsScan.head.output.map(_.name).toSet === Set("token", "__pid"))
  }

  test("token-substring prefilter is a verified superset for word and regex deletes") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq.empty, integer = Seq("user_id"),
      text = Seq("text"), idCol = "id")
    // substring-word semantics (the reference's /remove_all_by_word):
    // prefilter ⊇ true predicate, residual restores exactness
    val pre = idx.readWithTokenSubstring("text", "batch",
      PFilter(must = Seq(RangeInt("user_id", 3, 3))))
    val exact = pre.filter(col("text").contains("batch"))
    val truth = pts.filter(col("user_id") === 3 && col("text").contains("batch"))
    assert(exact.count() === truth.count())
    assert(exact.exceptAll(truth).isEmpty && truth.exceptAll(exact).isEmpty)
    assert(pre.count() >= exact.count())
    // regex semantics: the required literal prefilters, the regex is
    // the residual on the slice
    val preR = idx.readWithTokenSubstring("text", "key",
      PFilter(must = Seq(RangeInt("user_id", 3, 3))))
    val exactR = preR.filter(col("text").rlike("key (scan|sort)"))
    val truthR = pts.filter(col("user_id") === 3 &&
      col("text").rlike("key (scan|sort)"))
    assert(exactR.count() === truthR.count())
    assert(exactR.exceptAll(truthR).isEmpty && truthR.exceptAll(exactR).isEmpty)
    // a literal spanning token boundaries is refused (the posting
    // lists cannot see it)
    intercept[IllegalArgumentException](
      idx.readWithTokenSubstring("text", "key scan"))
  }

  test("token-substring prefilter refuses a prefix-tokenized index") {
    // a (2, 10) prefix index holds each word's prefixes up to 10 chars:
    // no token of `preprocessbatch` contains `batch`, so the prefilter
    // would drop a row the caller's contains("batch") keeps
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, text STRING")
    val corpus = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "preprocessbatch done"),
      org.apache.spark.sql.Row(2L, "batch job"),
      org.apache.spark.sql.Row(3L, "idle")), schema)
    val idx = PayloadIndex.create(spark, corpus, tmp(),
      keyword = Seq.empty, integer = Seq.empty, text = Seq("text"), idCol = "id",
      prefixText = true, prefixMinLen = 2, prefixMaxLen = 10)
    assert(corpus.filter(col("text").contains("batch")).count() === 2L)
    val e = intercept[IllegalArgumentException](
      idx.readWithTokenSubstring("text", "batch")
        .filter(col("text").contains("batch")).count())
    assert(e.getMessage.contains("prefix"))
  }

  test("matchPhrase enforces adjacency and order beyond its token prefilter") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq.empty, integer = Seq.empty,
      text = Seq("text"), idCol = "id")
    val phrase = "the data"
    val viaIdx = idx.readFilter(PFilter(must = Seq(MatchPhrase("text", phrase))))
    val truth = pts.filter(
      concat(lit(" "), col("text"), lit(" ")).contains(s" $phrase "))
    assert(viaIdx.count() === truth.count())
    assert(viaIdx.exceptAll(truth).isEmpty && truth.exceptAll(viaIdx).isEmpty)
    // the phrase cut is strictly tighter than its bag-of-tokens
    // prefilter on this corpus (docs holding both words NON-adjacently
    // exist) — otherwise this spec proves nothing about adjacency
    val bag = idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("the", "data")))))
    assert(viaIdx.count() < bag.count(),
      "corpus has no non-adjacent the/data docs; pick a different phrase")
    // order matters: the reversed phrase matches its own scan truth,
    // not the forward phrase's
    val rev = idx.readFilter(PFilter(must = Seq(MatchPhrase("text", "data the"))))
    val revTruth = pts.filter(
      concat(lit(" "), col("text"), lit(" ")).contains(" data the "))
    assert(rev.count() === revTruth.count())
    intercept[IllegalArgumentException](
      idx.readFilter(PFilter(must = Seq(MatchPhrase("text", "   ")))))
  }

  test("text index survives a fresh load and the VectorStore routes match their scans") {
    val root = tmp()
    PayloadIndex.create(spark, pts, root,
      keyword = Seq("lang"), integer = Seq.empty,
      text = Seq("text"), idCol = "id")
    val idx = PayloadIndex.load(spark, root)
    assert(idx.idCol === "id")
    assert(idx.fields.contains("text" -> "text"))
    assert(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("the"))))).count() ===
      pts.filter(concat(lit(" "), col("text"), lit(" ")).contains(" the ")).count())
    // the three indexed VectorStore routes ≡ their scan-filter twins
    assert(VectorStore.searchMatchTextIndexed(spark, sf).collect().toSeq ===
      VectorStore.searchMatchText(spark, sf).collect().toSeq)
    assert(VectorStore.deleteByWordIndexed(spark, sf).collect().toSeq ===
      VectorStore.deleteByWord(spark, sf).collect().toSeq)
    assert(VectorStore.deleteByRegexIndexed(spark, sf).collect().toSeq ===
      VectorStore.deleteByRegex(spark, sf).collect().toSeq)
  }
}
