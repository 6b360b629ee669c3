package graft

import graft.api.{Aliases, Filters, PayloadIndex}
import graft.api.Filters._
import org.apache.spark.sql.functions._

/** Edge shapes for the payload-field index that the sf-corpus spec
  * cannot hit: degenerate integer distributions (every percentile
  * boundary equal), keyword values a partition-value INFERENCE would
  * retype ("007" → 7), null keyword values (Hive default-partition
  * round-trip), single-axis indexes, the alias-rotation flow a
  * reindex rides (artifacts are immutable — rebuild + re-point), and
  * tenant reads: integer `match` pruning, its executed file count, and
  * a handle's cached data listing under other handles' commits.
  */
class PayloadIndexEdgeSpec extends SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-pidx-edge-").toString + "/idx"

  import scala.jdk.CollectionConverters._
  private def df(rows: Seq[(Long, String, String)]) = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, tag STRING, text STRING")
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
  }

  test("constant integer field degenerates to one zone and still answers ranges") {
    val root = tmp()
    val pts = df((1L to 40L).map(i => (7L, s"t${i % 3}", s"doc $i")))
      .withColumnRenamed("id", "uid") // all uid = 7
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 8)
    // every boundary percentile equals 7 → a single populated zone
    assert(idx.zones("uid") === Seq((0, 7L, 7L)))
    assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 7L, 7L)))).count() === 40L)
    assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 8L, 99L)))).count() === 0L)
    assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 0L, 6L)))).count() === 0L)
  }

  test("numeric-looking keyword values keep their string type through a load") {
    val root = tmp()
    val pts = df(Seq((1L, "007", "bond"), (2L, "7", "seven"), (3L, "x", "ex")))
    PayloadIndex.create(spark, pts, root, keyword = Seq("tag"), integer = Seq.empty)
    val idx = PayloadIndex.load(spark, root)
    val got = idx.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("007")))))
    // partition-value inference would have retyped "007" as int 7 and
    // merged it with "7"; the explicit read schema must not
    assert(got.schema("tag").dataType === org.apache.spark.sql.types.StringType)
    assert(got.select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(idx.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("7"))))).count() === 1L)
  }

  test("null keyword values round-trip through the default partition") {
    val root = tmp()
    val pts = df(Seq((1L, null, "no tag"), (2L, "a", "tagged"), (3L, null, "also none")))
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("tag"), integer = Seq.empty)
    val back = idx.readFilter()
    assert(back.count() === 3L)
    assert(back.filter(col("tag").isNull).count() === 2L,
      "null keyword rows must survive the partitioned layout")
    // an equality read never matches null (SQL semantics), and the
    // non-null partition prunes as usual
    assert(idx.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("a"))))).count() === 1L)
  }

  test("integer-only index prunes without any keyword axis") {
    val root = tmp()
    val pts = df((1L to 100L).map(i => (i, s"t${i % 2}", s"doc $i")))
      .withColumnRenamed("id", "uid")
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq.empty, integer = Seq("uid"), nZones = 4)
    assert(idx.zones("uid").size === 4)
    val got = idx.readFilter(PFilter(must = Seq(RangeInt("uid", 90L, 100L))))
    assert(got.count() === 11L)
    // only the last zone overlaps [90, 100]
    val zs = idx.zones("uid").collect { case (z, lo, hi) if hi >= 90L && lo <= 100L => z }
    assert(zs.size === 1)
  }

  test("insert appends on the existing axes and WIDENS the zone manifest") {
    val root = tmp()
    val base = df((1L to 64L).map(i => (i, s"t${i % 2}", s"doc $i")))
      .withColumnRenamed("id", "uid")
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4)
    val before = idx.zones("uid").sortBy(_._1)
    assert(before.head._2 === 1L && before.last._3 === 64L)

    // new rows BELOW, INSIDE (a gap-free range), and ABOVE the indexed range
    val batch = df(Seq((-5L, "t0", "below"), (30L, "t1", "inside"),
      (999L, "t0", "above"))).withColumnRenamed("id", "uid")
    val idx2 = idx.insert(batch)

    // widened: first zone stretches down to -5, last up to 999; totals add up
    val after = idx2.zones("uid").sortBy(_._1)
    assert(after.head._2 === -5L, s"first zone must widen down: $after")
    assert(after.last._3 === 999L, s"last zone must widen up: $after")
    assert(idx2.readFilter().count() === 67L)
    // ranges that only the widened manifest can answer
    assert(idx2.readFilter(PFilter(must = Seq(RangeInt("uid", -10L, 0L)))).count() === 1L)
    assert(idx2.readFilter(PFilter(must = Seq(RangeInt("uid", 100L, 1000L)))).count() === 1L)
    // base uid=30 + inserted
    assert(idx2.readFilter(PFilter(must = Seq(RangeInt("uid", 30L, 30L)))).count() === 2L)
    // keyword axis still prunes after the append
    assert(idx2.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("t1")))))
      .count() === base.filter(col("tag") === "t1").count() + 1)

    // the manifest rotated: a FRESH load resolves the widened generation
    val reloaded = PayloadIndex.load(spark, root)
    assert(reloaded.zones("uid").sortBy(_._1) === after)

    // a second insert is cumulative (gen-2 over gen-1)
    val idx3 = idx2.insert(df(Seq((-100L, "t1", "way below")))
      .withColumnRenamed("id", "uid"))
    assert(idx3.zones("uid").sortBy(_._1).head._2 === -100L)
    assert(PayloadIndex.load(spark, root)
      .readFilter(PFilter(must = Seq(RangeInt("uid", -100L, -99L)))).count() === 1L)
  }

  test("the range residual pushes to the parquet scan inside each zone") {
    val root = tmp()
    val base = df((1L to 64L).map(i => (i, s"t${i % 2}", s"doc $i")))
      .withColumnRenamed("id", "uid")
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4)
    // the claim in the scaladoc: zones prune directories AND the raw
    // field's >=/<= residual reaches PushedFilters, so row-group
    // min/max stats (files are sorted by uid within each zone) prune
    // again INSIDE the selected zone directories
    val scan = idx.readFilter(PFilter(must = Seq(RangeInt("uid", 10L, 12L))))
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(uid,10)") &&
      pushed.contains("LessThanOrEqual(uid,12)"),
      s"range residual must reach the parquet scan, got: $pushed")
  }

  test("a stale handle's insert cannot un-widen a newer on-disk manifest") {
    val root = tmp()
    val base = df((1L to 32L).map(i => (i, "t", s"doc $i")))
      .withColumnRenamed("id", "uid")
    val stale = PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("uid"), nZones = 4)
    // writer A (a fresher handle) widens the manifest down to -50
    PayloadIndex.load(spark, root)
      .insert(df(Seq((-50L, "t", "low"))).withColumnRenamed("id", "uid"))
    // writer B inserts through the STALE pre-widening handle: its view
    // says zone 0 starts at 1 — committing that view as a later
    // generation would hide uid=-50 from range reads forever
    stale.insert(df(Seq((10L, "t", "mid"))).withColumnRenamed("id", "uid"))
    val latest = PayloadIndex.load(spark, root)
    assert(latest.zones("uid").sortBy(_._1).head._2 === -50L,
      "the stale insert must merge the on-disk widening, not clobber it")
    assert(latest.readFilter(PFilter(must = Seq(RangeInt("uid", -60L, -40L)))).count() === 1L)
    assert(latest.readFilter().count() === 34L)
  }

  test("an all-null integer field is rejected at create with the real reason") {
    val root = tmp()
    val pts = df(Seq((1L, "a", "x"), (2L, "b", "y")))
      .withColumn("uid", lit(null).cast("bigint"))
    val e = intercept[IllegalArgumentException](
      PayloadIndex.create(spark, pts, root,
        keyword = Seq("tag"), integer = Seq("uid")))
    // not a bare NoSuchElementException from the missing zones key
    assert(e.getMessage.contains("uid") && e.getMessage.contains("NULL"))
  }

  test("exact and approx zone modes both prune and answer ranges identically") {
    val base = df((1L to 100L).map(i => (i, s"t${i % 2}", s"doc $i")))
      .withColumnRenamed("id", "uid")
    val exact = PayloadIndex.create(spark, base, tmp(),
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4, exactZones = true)
    val approx = PayloadIndex.create(spark, base, tmp(),
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4)
    for (idx <- Seq(exact, approx)) {
      // manifest covers the full range regardless of where boundaries fell
      val zs = idx.zones("uid").sortBy(_._1)
      assert(zs.head._2 === 1L && zs.last._3 === 100L)
      // RESULTS are boundary-independent (pruning consults actual
      // per-zone min/max, not the percentile estimate)
      assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 90L, 100L)))).count() === 11L)
      assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 1L, 1L)))).count() === 1L)
      assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 101L, 999L)))).count() === 0L)
    }
  }

  test("a stale handle's RANGE READ sees zones another handle widened on disk") {
    // the read-side twin of the stale-insert spec: pruning must consult
    // the newest committed manifest, not the handle's load-time
    // snapshot — otherwise an appended out-of-range row is silently
    // invisible to this handle forever
    val root = tmp()
    val base = df((1L to 32L).map(i => (i, "t", s"doc $i")))
      .withColumnRenamed("id", "uid")
    PayloadIndex.create(spark, base, root,
      keyword = Seq.empty, integer = Seq("uid"), nZones = 4)
    val staleReader = PayloadIndex.load(spark, root) // sees [1, 32]
    // another handle appends uid=-50, widening zone 0 on disk
    PayloadIndex.load(spark, root)
      .insert(df(Seq((-50L, "t", "low"))).withColumnRenamed("id", "uid"))
    assert(staleReader.zones("uid").sortBy(_._1).head._2 === 1L,
      "precondition: the reader's snapshot predates the widening")
    assert(staleReader.readFilter(PFilter(must = Seq(RangeInt("uid", -60L, -40L)))).count() === 1L,
      "stale handle missed a row the on-disk manifest covers")
    assert(staleReader.readFilter(PFilter(must = Seq(RangeInt("uid", -60L, 32L)))).count() === 33L)
  }

  test("insert appends text postings so matchText sees the new rows") {
    val root = tmp()
    val base = df(Seq((1L, "a", "alpha beta"), (2L, "b", "beta gamma")))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq.empty,
      text = Seq("text"), idCol = "id")
    assert(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("beta"))))).count() === 2L)
    assert(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("alpha", "beta")))))
      .count() === 1L)
    val idx2 = idx.insert(df(Seq((3L, "a", "beta delta"))))
    assert(idx2.readFilter(PFilter(must = Seq(MatchText("text", Seq("beta"))))).count() === 3L)
    assert(idx2.readFilter(PFilter(must = Seq(MatchText("text", Seq("delta"))))).count() === 1L)
    // a fresh load serves the appended postings too
    assert(PayloadIndex.load(spark, root)
      .readFilter(PFilter(must = Seq(MatchText("text", Seq("delta"))))).count() === 1L)
    // keyword axis still composes after the text append
    assert(idx2.readFilter(PFilter(must = Seq(
      MatchAny("tag", Seq("a")), MatchText("text", Seq("beta"))))).count() === 2L)
  }

  test("insertCommitted is exactly-once: replay skips, torn attempts are swept") {
    val root = tmp()
    val base = df(Seq((1L, "a", "alpha beta"), (2L, "b", "beta gamma")))
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq.empty, text = Seq("text"), idCol = "id")
    val b1 = df(Seq((3L, "a", "delta beta")))
    val idx2 = idx.insertCommitted(b1, 1L)
    assert(idx2.readFilter().count() === 3L)
    assert(idx2.readFilter(PFilter(must = Seq(MatchText("text", Seq("delta"))))).count() === 1L)
    // replay of a COMMITTED batch is a no-op (marker skip) — the
    // at-least-once duplicate insert() would take here is exactly what
    // this path must not
    assert(idx2.insertCommitted(b1, 1L).readFilter().count() === 3L)
    assert(PayloadIndex.load(spark, root)
      .readFilter(PFilter(must = Seq(MatchText("text", Seq("beta"))))).count() === 3L)

    // a committed batch retires its intent — the marker owns the skip
    assert(!new java.io.File(s"$root/batches/intent-1").exists(),
      "committed batch must retire its publish intent")

    // TORN attempt: batch 2 crashed mid-publish — simulate the exact
    // protocol state: the intent (written BEFORE the first rename)
    // names the published dir, and a b2- prefixed file sits in it
    // (duplicate rows, no marker). The replay must sweep it — guided
    // by the intent alone, never a full-layout listing — and publish
    // exactly once.
    def findPart(dir: java.io.File): Option[java.io.File] = {
      val entries = dir.listFiles().sortBy(_.getName)
      entries.find(f => f.isFile && f.getName.startsWith("part-"))
        .orElse(entries.filter(_.isDirectory).flatMap(findPart).headOption)
    }
    val torn = findPart(new java.io.File(s"$root/data")).get
    java.nio.file.Files.copy(torn.toPath,
      torn.toPath.resolveSibling("b2-" + torn.getName))
    val tornDir = new java.io.File(root).toPath.relativize(
      torn.getParentFile.toPath).toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/batches/intent-2"),
      s"text_text\n$tornDir\n".getBytes("UTF-8"))
    assert(PayloadIndex.load(spark, root).readFilter().count() === 4L,
      "precondition: the torn file duplicates a row")
    val idx3 = PayloadIndex.load(spark, root)
      .insertCommitted(df(Seq((4L, "b", "beta epsilon"))), 2L)
    assert(idx3.readFilter().count() === 4L, "torn duplicate must be swept, batch published once")
    assert(idx3.readFilter(PFilter(must = Seq(MatchText("text", Seq("epsilon"))))).count() === 1L)
    assert(idx3.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("b"))))).count() === 2L)
    assert(!new java.io.File(s"$root/batches/intent-2").exists(),
      "replayed batch must retire its publish intent too")
  }

  test("whitespace-bearing keyword values survive the intent round-trip and torn sweep") {
    // space is NOT in Spark's partition-path escape set, so tag = "a "
    // lands in the literal directory `data/tag=a ` — a trimmed intent
    // line would name `data/tag=a` instead, the sweep would probe a
    // nonexistent directory, and a torn attempt's duplicates would
    // survive the replay forever (the silent-wrong-answer class)
    val root = tmp()
    val idx = PayloadIndex.create(spark,
      df(Seq((1L, "a ", "alpha beta"), (2L, "b", "beta gamma"))), root,
      keyword = Seq("tag"), integer = Seq.empty, text = Seq("text"), idCol = "id")
    assert(idx.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("a "))))).count() === 1L,
      "precondition: the trailing-space keyword value is its own partition")
    idx.insertCommitted(df(Seq((3L, "a ", "delta beta"))), 7L)
    // rewind batch 7 to the torn state: marker gone, intent restored
    val marker = new java.io.File(s"$root/batches/batch-7")
    assert(marker.exists()); assert(marker.delete())
    def prefixed(dir: java.io.File): Seq[java.io.File] = {
      val es = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      es.filter(f => f.isFile && f.getName.startsWith("b7-")) ++
        es.filter(_.isDirectory).flatMap(prefixed)
    }
    val moved = prefixed(new java.io.File(root))
    assert(moved.nonEmpty, "precondition: b7- files were published")
    val rootP = new java.io.File(root).toPath
    val dirs = moved.map(f =>
      rootP.relativize(f.getParentFile.toPath).toString).distinct
    assert(dirs.exists(_.endsWith("tag=a ")),
      "precondition: a published dir carries the trailing space")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/batches/intent-7"),
      dirs.mkString("\n").getBytes("UTF-8"))
    val idx2 = PayloadIndex.load(spark, root)
      .insertCommitted(df(Seq((3L, "a ", "delta beta"))), 7L)
    assert(idx2.readFilter().count() === 3L,
      "torn files under the whitespace dir must be swept — exactly one copy")
    assert(idx2.readFilter(PFilter(must = Seq(MatchAny("tag", Seq("a "))))).count() === 2L)
  }

  test("insertCommitted replay converges when EVERYTHING moved but the marker never committed") {
    // the worst torn case: batch 3's publish fully renamed in (postings
    // AND data) and the process died one instruction before the marker.
    // The replay must sweep every b3- file across every intent dir and
    // land the batch exactly once — this is the convergence claim the
    // marker-last ordering exists for.
    val root = tmp()
    val idx = PayloadIndex.create(spark,
      df(Seq((1L, "a", "alpha beta"), (2L, "b", "beta gamma"))), root,
      keyword = Seq("tag"), integer = Seq.empty, text = Seq("text"), idCol = "id")
    idx.insertCommitted(df(Seq((3L, "a", "zeta eta"))), 3L)
    // rewind to the crashed state: marker gone, intent restored — the
    // published b3- files stay exactly as the crash left them
    val marker = new java.io.File(s"$root/batches/batch-3")
    assert(marker.exists()); assert(marker.delete())
    def prefixed(dir: java.io.File): Seq[java.io.File] = {
      val es = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      es.filter(f => f.isFile && f.getName.startsWith("b3-")) ++
        es.filter(_.isDirectory).flatMap(prefixed)
    }
    val moved = prefixed(new java.io.File(root))
    assert(moved.nonEmpty, "precondition: b3- files were published")
    val rootP = new java.io.File(root).toPath
    val dirs = moved.map(f =>
      rootP.relativize(f.getParentFile.toPath).toString).distinct
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/batches/intent-3"),
      dirs.mkString("\n").getBytes("UTF-8"))
    val idx3 = PayloadIndex.load(spark, root)
      .insertCommitted(df(Seq((3L, "a", "zeta eta"))), 3L)
    assert(idx3.readFilter().count() === 3L,
      "fully-moved-but-unmarked batch must republish exactly once")
    assert(idx3.readFilter(PFilter(must = Seq(MatchText("text", Seq("zeta"))))).count() === 1L,
      "postings must hold exactly one copy after the republish")
    assert(new java.io.File(s"$root/batches/batch-3").exists())
  }

  test("insertCommitted widens integer zones through the manifest discipline") {
    val root = tmp()
    val base = df((1L to 32L).map(i => (i, "t", s"doc $i")))
      .withColumnRenamed("id", "uid")
    PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 4)
    val idx2 = PayloadIndex.load(spark, root)
      .insertCommitted(df(Seq((500L, "t", "way above")))
        .withColumnRenamed("id", "uid"), 0L)
    assert(idx2.readFilter(PFilter(must = Seq(RangeInt("uid", 400L, 600L)))).count() === 1L)
    assert(idx2.zones("uid").sortBy(_._1).last._3 === 500L)
    assert(idx2.readFilter().count() === 33L)
  }

  test("text indexes refuse NULL ids at create and at ingest") {
    // postings name rows by idCol; NULL === NULL is NULL under SQL
    // three-valued logic, so the candidate semi-join could never match
    // a NULL id back — the indexed route would silently DROP a row the
    // scan route returns. Refused loudly on both entry paths.
    val root = tmp()
    val withNull = df(Seq((1L, "a", "alpha beta"))).unionByName(
      df(Seq((0L, "b", "beta gamma")))
        .withColumn("id", lit(null).cast("bigint")))
    val e = intercept[IllegalArgumentException](
      PayloadIndex.create(spark, withNull, root,
        keyword = Seq("tag"), integer = Seq.empty,
        text = Seq("text"), idCol = "id"))
    assert(e.getMessage.contains("NULL"))
    val idx = PayloadIndex.create(spark,
      df(Seq((1L, "a", "alpha beta"))), root,
      keyword = Seq("tag"), integer = Seq.empty,
      text = Seq("text"), idCol = "id")
    intercept[IllegalArgumentException](idx.insert(withNull))
    intercept[IllegalArgumentException](idx.insertCommitted(withNull, 0L))
    // non-text indexes carry no posting contract — NULL ids pass
    val root2 = tmp()
    val idx2 = PayloadIndex.create(spark, withNull, root2,
      keyword = Seq("tag"), integer = Seq.empty)
    assert(idx2.readFilter().count() === 2L)
  }

  test("insert refuses a batch whose columns do not match the indexed schema") {
    val root = tmp()
    val base = df(Seq((1L, "a", "x"))).withColumnRenamed("id", "uid")
    val idx = PayloadIndex.create(spark, base, root,
      keyword = Seq("tag"), integer = Seq("uid"))
    intercept[IllegalArgumentException](
      idx.insert(df(Seq((2L, "b", "y"))))) // has `id`, not `uid`
  }

  test("reindex rides the alias-rotation discipline: rebuild then re-point") {
    val reg = java.nio.file.Files.createTempDirectory("graft-pidx-alias-").toString
    val v1 = tmp(); val v2 = tmp()
    val ptsV1 = df(Seq((1L, "a", "one")))
    val ptsV2 = df(Seq((1L, "a", "one"), (2L, "b", "two")))
    PayloadIndex.create(spark, ptsV1, v1, keyword = Seq("tag"), integer = Seq.empty)
    Aliases.set(spark, reg, "points-idx", v1)
    def serve(): Long = PayloadIndex
      .load(spark, Aliases.resolve(spark, reg, "points-idx").get)
      .readFilter().count()
    assert(serve() === 1L)
    // corpus grows: the artifact is immutable, so a reindex lands in a
    // FRESH root and the alias re-points — readers mid-flight on v1
    // keep a consistent snapshot
    PayloadIndex.create(spark, ptsV2, v2, keyword = Seq("tag"), integer = Seq.empty)
    Aliases.set(spark, reg, "points-idx", v2)
    assert(serve() === 2L)
    assert(Aliases.history(spark, reg, "points-idx").map(_._2) === Seq(v1, v2))
  }

  // ------------------------------------------- integer match pruning

  // four uid clusters, two rows per uid (one per tag) plus a NULL-uid
  // row: exact percentiles put the zone bounds in the gaps, so the
  // manifest reads [-2, 7], [20, 29], [40, 49], [60, 69]
  private def tenants(): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, uid BIGINT, tag STRING")
    val uids = ((-2L to 7L) ++ (20L to 29L) ++ (40L to 49L) ++ (60L to 69L))
      .map(java.lang.Long.valueOf) :+ null
    val rows = uids.zipWithIndex.flatMap { case (u, i) =>
      Seq(org.apache.spark.sql.Row(2L * i, u, "t0"),
        org.apache.spark.sql.Row(2L * i + 1, u, "t1")) }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("integer match pruning is exact: readFilter ≡ the scan route in must, should and must_not") {
    val root = tmp()
    val base = tenants()
    val idx = PayloadIndex.create(spark, base, root, keyword = Seq("tag"),
      integer = Seq("uid"), nZones = 4, exactZones = true)
    assert(idx.zones("uid").sortBy(_._1).map(z => (z._2.toLong, z._3.toLong)) ===
      Seq((-2L, 7L), (20L, 29L), (40L, 49L), (60L, 69L)),
      "precondition: the zones leave gaps between clusters")
    // the scan route's answer: the schema rewrite, then the compiled
    // column over the raw rows
    def same(pf: PFilter): Unit = {
      val want = ids(base.filter(Filters.toColumn(Filters.rewriteForSchema(pf, base.schema))))
      assert(ids(idx.readFilter(pf)) === want, s"$pf")
    }
    // inside a zone, in a gap, beyond every zone (both ends), negative,
    // non-canonical ("07" casts to 7) and non-integer strings
    val values = Seq("25", "5", "15", "35", "100", "-50", "-2", "-1",
      "07", "7.5", "abc")
    for (v <- values) {
      same(PFilter(must = Seq(MatchValue("uid", v))))
      same(PFilter(must = Seq(MatchAny("uid", Seq(v, "60")))))
      same(PFilter(must = Seq(MatchValue("uid", v), MatchValue("tag", "t1"))))
      same(PFilter(should = Seq(MatchValue("uid", v), MatchAny("uid", Seq("45", "-2")))))
      same(PFilter(should = Seq(MatchValue("uid", v), MatchValue("tag", "t0"))))
      same(PFilter(mustNot = Seq(MatchValue("uid", v))))
      same(PFilter(mustNot = Seq(MatchAny("uid", Seq(v, "25")))))
    }
    same(PFilter(must = Seq(MatchAny("uid", Nil))))
    assert(ids(idx.readFilter(PFilter(must = Seq(MatchValue("uid", "25"))))).size === 2)
    // a value the ANSI cast to BIGINT refuses equals no row: `value`
    // matches nothing, and `any` / `except` ignore it (the routes agree
    // on these through `same` above)
    val all = ids(base)
    val not25 = ids(base.filter(col("uid").isNull || col("uid") =!= 25L))
    for (v <- Seq("7.5", "abc")) {
      assert(ids(idx.readFilter(PFilter(must = Seq(MatchValue("uid", v))))) === Nil)
      assert(ids(idx.readFilter(PFilter(must = Seq(MatchAny("uid", Seq(v, "60")))))) ===
        ids(base.filter(col("uid") === 60L)))
      assert(ids(idx.readFilter(PFilter(mustNot = Seq(MatchValue("uid", v))))) === all)
      assert(ids(idx.readFilter(PFilter(mustNot = Seq(MatchAny("uid", Seq(v, "25")))))) === not25)
      assert(ids(idx.readFilter(PFilter(must = Seq(MatchExcept("uid", Seq(v, "25")))))) === not25)
      same(PFilter(must = Seq(MatchExcept("uid", Seq(v, "25")))))
    }
    // another handle widens zones on disk: a gap value joins its nearest
    // zone and -50 stretches zone 0 down; this handle's snapshot still
    // reads [-2, 7] but its pruning must follow the committed manifest
    val more = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000L, 15L, "t0"),
      org.apache.spark.sql.Row(1001L, -50L, "t1")).asJava, base.schema)
    PayloadIndex.load(spark, root).insert(more)
    assert(idx.zones("uid").sortBy(_._1).head._2 === BigDecimal(-2),
      "precondition: the reader's snapshot predates the widening")
    assert(ids(idx.readFilter(PFilter(must = Seq(MatchValue("uid", "15"))))) === Seq(1000L))
    assert(ids(idx.readFilter(PFilter(must = Seq(MatchValue("uid", "-50"))))) === Seq(1001L))
    assert(ids(idx.readFilter(PFilter(must = Seq(MatchAny("uid", Seq("-50", "15", "25")))))) ===
      ids(base.unionByName(more).filter(col("uid").isin(-50L, 15L, 25L))))
  }

  test("a handle's cached data listing sees other handles' inserts and a replayed torn batch") {
    val root = tmp()
    val base = tenants()
    val idx = PayloadIndex.create(spark, base, root, keyword = Seq("tag"),
      integer = Seq("uid"), nZones = 4)
    val tenant25 = PFilter(must = Seq(MatchValue("uid", "25")))
    def row(id: Long, uid: Long, tag: String) =
      spark.createDataFrame(Seq(org.apache.spark.sql.Row(id, uid, tag)).asJava, base.schema)
    val n = base.count()
    // the handle has served reads, so its listing is made
    assert(ids(idx.readFilter(tenant25)).size === 2 && idx.readFilter().count() === n)
    PayloadIndex.load(spark, root).insert(row(1000L, 25L, "t0"))
    assert(ids(idx.readFilter(tenant25)).contains(1000L), "insert by another handle")
    assert(idx.readFilter().count() === n + 1)
    PayloadIndex.load(spark, root).insertCommitted(row(1001L, 25L, "t1"), 5L)
    assert(ids(idx.readFilter(tenant25)).contains(1001L), "insertCommitted by another handle")
    assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 25L, 25L)))).count() === 4L)
    // TORN batch 9: a b9- copy of a committed file and its intent, no
    // marker (the state a crash mid-publish leaves)
    def parts(dir: java.io.File): Seq[java.io.File] = {
      val es = Option(dir.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
      es.filter(f => f.isFile && f.getName.startsWith("part-")) ++
        es.filter(_.isDirectory).flatMap(parts)
    }
    val victim = parts(new java.io.File(s"$root/data")).head
    val torn = victim.toPath.resolveSibling("b9-" + victim.getName)
    java.nio.file.Files.copy(victim.toPath, torn)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/batches/intent-9"),
      new java.io.File(root).toPath.relativize(victim.getParentFile.toPath)
        .toString.getBytes("UTF-8"))
    val dup = spark.read.parquet(torn.toString).count()
    assert(dup > 0, "precondition: the torn file holds rows")
    // another commit makes the handle re-list — now over the torn file
    PayloadIndex.load(spark, root).insert(row(1002L, 45L, "t0"))
    assert(idx.readFilter().count() === n + 3 + dup, "the listing holds the torn file")
    // the replay sweeps the torn file and publishes batch 9 once
    PayloadIndex.load(spark, root).insertCommitted(row(1003L, 25L, "t0"), 9L)
    assert(!java.nio.file.Files.exists(torn), "precondition: the sweep removed the torn file")
    assert(idx.readFilter().count() === n + 4)
    assert(ids(idx.readFilter(tenant25)).count(_ >= 1000L) === 3)
  }

  test("a tenant read scans only the files of the zones that cover its user_id") {
    val root = tmp()
    val idx = PayloadIndex.create(spark, tenants(), root, keyword = Seq("tag"),
      integer = Seq("uid"), nZones = 4, exactZones = true)
    val covering = idx.zones("uid").collect {
      case (z, lo, hi) if lo <= 25 && 25 <= hi => z }
    assert(covering.size === 1)
    def files(dir: java.io.File): Seq[java.io.File] = {
      val es = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      es.filter(f => f.isFile && f.getName.contains("part-") && f.getName.endsWith(".parquet")) ++
        es.filter(_.isDirectory).flatMap(files)
    }
    val all = files(new java.io.File(s"$root/data"))
    val tenantFiles = all.filter(f => covering.exists(z =>
      f.getParentFile.getName == s"__zone_uid=$z"))
    assert(tenantFiles.nonEmpty && tenantFiles.size < all.size)
    val q = idx.readFilter(PFilter(must = Seq(MatchValue("uid", "25"))))
    assert(q.collect().length === 2) // runs q's own plan, filling its metrics
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1)
    assert(scans.head.metrics("numFiles").value === tenantFiles.size.toLong,
      s"the tenant read must scan only its zone's files (${tenantFiles.size} " +
        s"of ${all.size})")
  }
}
