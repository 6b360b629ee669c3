package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate, hll_union_agg}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

case class StreamPoint(id: Long, vector: Seq[Double], text: String, user_id: Long,
                       site: String, lang: String, seq: Long)

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("hourlyCounts aggregates an unbounded stream by event-time hour") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(30), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
      assert(rows.length === 2)
      val clickRow = rows.find(_.getString(1) == "click").get
      assert(clickRow.getLong(2) === 2)
      assert(math.abs(clickRow.getDouble(3) - 3.0) < 1e-12)
    } finally q.stop()
  }

  test("anomalyStream flags a spike hour once the watermark closes it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    // hour-ALIGNED event times (the shared ts() helper's base sits
    // mid-hour, which would split each synthetic hour across buckets)
    def hts(h: Long, sec: Long): Timestamp =
      new Timestamp(1700002800000L + h * 3600000L + sec * 1000L)
    try {
      // hours 0..9 alternate 2 and 4 events (mean 3, sd 1); hour 10 spikes to 12
      var id = 0L
      val baseline = (0 until 10).flatMap { h =>
        val c = if (h % 2 == 0) 2 else 4
        (0 until c).map { i => id += 1; Event(id, hts(h, i), 1, "a", 1.0) }
      }
      val spike = (0 until 12).map { i => id += 1; Event(id, hts(10, i), 1, "a", 1.0) }
      input.addData(baseline ++ spike)
      q.processAllAvailable()
      // far-future events on another key advance the watermark; extra
      // batches let the event-time timeouts fire and drain closed hours
      (0 until 3).foreach { k =>
        id += 1
        input.addData(Event(id, hts(20, k), 2, "b", 1.0))
        q.processAllAvailable()
      }
      val rows = spark.table("anomalies")
        .as[EventStreams.HourScore].collect().filter(_.event_type == "a")
        .sortBy(_.hour.getTime)
      assert(rows.length === 11, s"expected all 11 hours closed: ${rows.length}")
      assert(rows.map(_.n).toSeq === Seq(2L, 4L, 2L, 4L, 2L, 4L, 2L, 4L, 2L, 4L, 12L))
      val spikeRow = rows.last
      assert(spikeRow.is_anomaly && spikeRow.zscore > 2.0,
        s"spike hour not flagged: $spikeRow")
      // every baseline hour scores within the normal band
      assert(rows.init.forall(!_.is_anomaly), s"false positives: ${rows.init.toSeq}")
    } finally q.stop()
  }

  test("sessionize closes a session after a 30-min gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(10), 7, "click", 2.0))
      q.processAllAvailable()
      // gap of 40 min → first session closes when this arrives
      input.addData(Event(3, ts(50), 7, "purchase", 5.0))
      q.processAllAvailable()
      val sess = spark.table("sessions").as[Session].collect()
      assert(sess.length === 1)
      assert(sess.head.n_events === 2)
      assert(math.abs(sess.head.sum_value - 3.0) < 1e-12)
      assert(sess.head.start === ts(0) && sess.head.end === ts(10))
    } finally q.stop()
  }

  test("sessionize flushes a departed user's session when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "click", 2.0))
      q.processAllAvailable()
      // user 7 never returns; another user's events advance the
      // watermark past end(10) + gap(30) + delay(60) ⇒ timeout flush
      input.addData(Event(3, ts(200), 8, "click", 0.5))
      q.processAllAvailable()
      input.addData(Event(4, ts(210), 8, "click", 0.5)) // one more batch to fire timeouts
      q.processAllAvailable()
      val sess = spark.table("sessions_wm").as[Session].collect().filter(_.user_id == 7)
      assert(sess.length === 1, s"expected user 7's session flushed: ${sess.toSeq}")
      assert(sess.head.n_events === 2 && sess.head.end === ts(10))
    } finally q.stop()
  }

  test("native session_window closes the same session as the fMGWS sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionWindowAgg(input.toDF())
      .writeStream.format("memory").queryName("nsessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(10), 7, "click", 2.0))
      q.processAllAvailable()
      // 40-min gap starts a new session; far-future event advances the
      // watermark so the engine emits the closed first session
      input.addData(Event(3, ts(50), 7, "purchase", 5.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(300), 8, "click", 0.1))
      q.processAllAvailable()
      val rows = spark.table("nsessions").collect()
        .filter(_.getLong(0) == 7L)
        .map(r => (r.getTimestamp(1), r.getLong(3), r.getDouble(4)))
        .sortBy(_._1.getTime)
      assert(rows.length >= 1, "first session should have closed")
      // session 1: events at t0 and t10, window = [t0, t10 + 30min)
      assert(rows.head === ((ts(0), 2L, 3.0)))
    } finally q.stop()
  }

  test("activeUsersStream counts distinct users per hour within sketch error") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.activeUsersStream(input.toDF())
      .writeStream.format("memory").queryName("dau")
      .outputMode(OutputMode.Complete()).start()
    try {
      // hour 1: users 1..40 (two events each); hour 2: users 1..5
      val h1 = (1 to 40).flatMap(u =>
        Seq(Event(u * 2L, ts(u % 50), u, "click", 1.0),
          Event(u * 2L + 1, ts((u + 3) % 50), u, "view", 1.0)))
      val h2 = (1 to 5).map(u => Event(1000L + u, ts(70 + u), u, "click", 1.0))
      input.addData(h1 ++ h2)
      q.processAllAvailable()
      val rows = spark.table("dau").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1.getTime)
      assert(rows.length === 2)
      // HLL++ at 2% rsd is exact-ish at these cardinalities
      assert(math.abs(rows.head._2 - 40L) <= 2, s"hour1: ${rows.head}")
      assert(rows.head._3 === 80L)
      assert(math.abs(rows.last._2 - 5L) <= 1, s"hour2: ${rows.last}")
    } finally q.stop()
  }

  test("hllDailyStream maintains mergeable day sketches whose blobs union like batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.hllDailyStream(input.toDF())
      .writeStream.format("memory").queryName("hlld")
      .outputMode(OutputMode.Complete()).start()
    try {
      // day 1: users 1..30; day 2 (ts + 24h): users 21..40
      val d1 = (1 to 30).map(u => Event(u.toLong, ts(u % 50), u, "click", 1.0))
      val d2 = (21 to 40).map(u => Event(100L + u, ts(u % 50 + 24 * 60), u, "view", 1.0))
      input.addData(d1 ++ d2)
      q.processAllAvailable()
      val rows = spark.table("hlld").collect()
        .map(r => (r.getTimestamp(0), r.getAs[Array[Byte]](1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1.getTime)
      assert(rows.length === 2)
      assert(math.abs(rows.head._3 - 30L) <= 2 && rows.head._4 === 30L)
      assert(math.abs(rows.last._3 - 20L) <= 2 && rows.last._4 === 20L)
      // the emitted BLOBS are the product: union them batch-side and
      // the estimate equals a direct whole-stream sketch (mergeability)
      import spark.implicits._
      val fromBlobs = rows.map(_._2).toSeq.toDF("sk")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
      val direct = (d1 ++ d2).map(_.user_id).toDF("user_id")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))).head().getLong(0)
      assert(fromBlobs === direct)
    } finally q.stop()
  }

  test("dedupStream drops re-deliveries of the same event id within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // duplicate delivery
        Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(2, ts(3), 1, "view", 2.0)) // late duplicate, still in watermark
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream attribution matches clicks in the hour before a purchase") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib").outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Event(10, ts(0), 1, "click", 1.0),   // 45 min before purchase → match
        Event(11, ts(30), 1, "click", 2.0),  // 15 min before → match
        Event(12, ts(30), 2, "click", 9.0),  // other user → no match
        Event(13, ts(50), 1, "click", 3.0))  // after purchase → no match
      purchases.addData(Event(20, ts(45), 1, "purchase", 99.0))
      q.processAllAvailable()
      // advance both watermarks so the joinable window is closed and emitted
      clicks.addData(Event(14, ts(300), 3, "click", 0.0))
      purchases.addData(Event(21, ts(300), 3, "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      val matched = rows.filter(_.getLong(0) == 20L).map(_.getLong(2)).sorted
      assert(matched.toSeq === Seq(10L, 11L))
    } finally q.stop()
  }

  test("upsertStream applies micro-batch upserts to the persisted snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.VectorIndex
    val base = java.nio.file.Files.createTempDirectory("vidx").toString
    val snap = base + "/snap"
    VectorIndex(Tables.points(spark, sf)).save(snap)
    val n0 = VectorIndex.load(spark, snap).points.count()
    val input = MemoryStream[StreamPoint]
    val q = EventStreams.upsertStream(input.toDF(), snap, base + "/ckpt").start()
    try {
      val vec = Seq.fill(64)(0.1)
      input.addData(
        StreamPoint(0, vec, "updated point", 0, "s", "en", 999999999L), // replaces id 0
        StreamPoint(900001, vec, "new point", 3, "s", "en", 1L))        // inserts
      q.processAllAvailable()
      val after = VectorIndex.load(spark, snap)
      assert(after.points.count() === n0 + 1) // one insert, one replace
      assert(after.points.filter(col("id") === 0).head().getString(2) === "updated point")
      // a second batch over the rotated snapshot still works (exactly-once path)
      input.addData(StreamPoint(900002, vec, "another", 3, "s", "en", 1L))
      q.processAllAvailable()
      assert(VectorIndex.load(spark, snap).points.count() === n0 + 2)
    } finally q.stop()
  }

  test("hybridMaintainStream rotates generations with from-scratch-rebuild parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.{Generations, HybridIndex}
    val base = java.nio.file.Files.createTempDirectory("hybstream").toString
    val root = base + "/hybrid"
    val input = MemoryStream[(Long, String, Seq[Double])]
    val q = EventStreams.hybridMaintainStream(
      input.toDF().toDF("doc_id", "text", "vec"), root, base + "/ckpt").start()
    try {
      input.addData((1L, "alpha beta gamma", Seq(1.0, 0.0)),
        (2L, "beta delta", Seq(0.0, 1.0)))
      q.processAllAvailable()
      assert(HybridIndex.openLive(spark, root)
        .keywordSearch(Seq("beta")).count() === 2L)
      // batch 2: upsert doc 1 (replaces its postings) + insert doc 3
      input.addData((1L, "epsilon zeta", Seq(0.5, 0.5)),
        (3L, "beta beta", Seq(1.0, 1.0)))
      q.processAllAvailable()
      val live = HybridIndex.openLive(spark, root)
      // the streamed artifact serves EXACTLY what a from-scratch build
      // on the merged corpus serves (keyword, vector, and fused)
      val rebuilt = HybridIndex.build(spark,
        Seq((1L, "epsilon zeta"), (2L, "beta delta"), (3L, "beta beta"))
          .toDF("doc_id", "text"),
        Seq((1L, Seq(0.5, 0.5)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)))
          .toDF("doc_id", "vec"),
        base + "/rebuilt")
      val (terms, qvec) = (Seq("beta", "epsilon"), Seq(1.0, 0.0))
      assert(live.search(terms, qvec).collect().toSeq ===
        rebuilt.search(terms, qvec).collect().toSeq)
      // the sparse tier serves identically through the streamed artifact
      assert(live.sparseSearchByDoc(2L).collect().toSeq ===
        rebuilt.sparseSearchByDoc(2L).collect().toSeq)
      assert(live.sparseSearch(Map("beta" -> 1.0)).collect().toSeq ===
        rebuilt.sparseSearch(Map("beta" -> 1.0)).collect().toSeq)
      assert(live.keywordSearch(Seq("alpha")).count() === 0L,
        "doc 1's old postings must be replaced, not merged")
      // rotation: at most the live + previous generation remain on disk
      val gens = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted
      assert(gens.length <= 2 && gens.last === graft.api.Generations.dir(1L))
      // the replay-skip invariant: Generations.live hands back a
      // FILESYSTEM-QUALIFIED path (a raw-string compare against the
      // caller's spelling of root/gen-N would never match — the skip
      // must compare generation NAMES), and its name is the live gen
      val livePath = Generations.live(spark, root, HybridIndex.relations).map(_.path).get
      assert(livePath != s"$root/${graft.api.Generations.dir(1L)}",
        "qualified vs raw spelling — if these ever compare equal, the " +
          "name-based skip can revert to path equality")
      assert(new org.apache.hadoop.fs.Path(livePath).getName ===
        graft.api.Generations.dir(1L))
    } finally q.stop()
  }

  test("nearDupGateStream suppresses near-dups within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ndgate").toString
    val store = base + "/store"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupGateStream(
      input.toDF().toDF("doc_id", "text"), store, base + "/ckpt").start()
    def accepted(): Set[Long] =
      spark.read.parquet(store + "/batch-*/state").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    try {
      val t1 = "a b c d e f g h i j k l"
      input.addData(
        1L -> t1,
        2L -> "z y x w v u t s r q p o",
        5L -> (t1 + " m")) // within-batch near-dup of 1 (J = 8/9)
      q.processAllAvailable()
      assert(accepted() === Set(1L, 2L))
      input.addData(
        3L -> (t1 + " n"),              // cross-batch near-dup of accepted 1
        4L -> "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12") // novel
      q.processAllAvailable()
      assert(accepted() === Set(1L, 2L, 4L))
      // survivor state carries both signature and verify arrays
      val row = spark.read.parquet(store + "/batch-*/state").filter($"doc_id" === 4L).head()
      assert(row.getSeq[Long](1).length === 128)
      assert(row.getSeq[Long](2).nonEmpty)
      // the persisted bucket inversion covers every accepted doc
      val bks = spark.read.parquet(store + "/batch-*/buckets")
      assert(bks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
        === Set(1L, 2L, 4L))
      assert(bks.groupBy("doc_id").count().collect().forall(_.getLong(1) === 32L))
    } finally q.stop()
  }

  test("nearDupGateStream replay of a committed batch keeps its survivors") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ndreplay").toString
    val store = base + "/store"
    val t1 = "a b c d e f g h i j k l"
    val batch0 = Seq(1L -> t1, 2L -> "z y x w v u t s r q p o", 5L -> (t1 + " m"))
    def batch0State(): Set[Long] =
      spark.read.parquet(store + "/batch-000000000000/state").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    for (ckpt <- Seq("/ckpt", "/ckpt-fresh")) {
      // the second pass replays batch 0 through a fresh checkpoint: the
      // batch must not dedup against its own committed directory
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.nearDupGateStream(
        input.toDF().toDF("doc_id", "text"), store, base + ckpt).start()
      try { input.addData(batch0: _*); q.processAllAvailable() }
      finally q.stop()
      assert(batch0State() === Set(1L, 2L), s"after the run under $ckpt")
    }
  }

  test("bloomGateStream rejects history dups across batches with constant store probes") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("bloomgate").toString
    val store = base + "/store"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.bloomGateStream(
      input.toDF().toDF("doc_id", "text"), store, base + "/ckpt").start()
    def admitted(): Map[Long, Long] =
      spark.read.parquet(store + "/batch-*/admitted")
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    try {
      val t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
      val t2 = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12"
      input.addData(1L -> t1, 2L -> t2)
      q.processAllAvailable()
      assert(admitted() === Map(1L -> 1L, 2L -> 1L)) // empty history admits all
      val t4 = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12"
      input.addData(
        3L -> t1,                                          // exact dup of accepted 1
        4L -> t4,                                          // novel
        5L -> (t1.stripSuffix("w12") + "CHANGED"))         // 4/5 grams shared with 1
      q.processAllAvailable()
      val m2 = admitted()
      assert(m2(3L) === 0L && m2(5L) === 0L && m2(4L) === 1L, s"verdicts $m2")
      // the filter history accumulates: doc 4 was admitted in batch 2,
      // so its twin in batch 3 is rejected by batch 2's appended filter
      input.addData(6L -> t4, 7L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12")
      q.processAllAvailable()
      val m3 = admitted()
      assert(m3(6L) === 0L && m3(7L) === 1L, s"verdicts $m3")
      // rejected docs never poison history: doc 3 (rejected copy of 1)
      // contributed nothing — containment of 6 comes from 4's filter only
      val nFilters = spark.read.parquet(store + "/batch-*/filter").count()
      assert(nFilters === 3L) // one per batch, each a single row
    } finally q.stop()
  }

  test("heavyUsersStream surfaces dominant users per type across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.heavyUsersStream(
        input.toDF().toDF("user_id", "event_type"), capacity = 16, k = 3)
      .writeStream.format("memory").queryName("heavy")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1 to 20).map(_ => (7L, "a")) ++ Seq((1L, "a"), (2L, "a")): _*)
      q.processAllAvailable()
      input.addData((1 to 10).map(_ => (7L, "a")) ++
        (1 to 15).map(_ => (9L, "b")) ++ Seq((3L, "b")): _*)
      q.processAllAvailable()
      val rows = spark.table("heavy").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .toMap
      // sketch state persisted across batches: type a counts 20 + 10
      val (na, topA, cntA) = rows("a")
      assert(na === 32L && topA.head === 7L)
      assert(cntA.head === 30L) // exact regime: distinct users ≤ capacity
      val (nb, topB, cntB) = rows("b")
      assert(nb === 16L && topB.head === 9L && cntB.head === 15L)
    } finally q.stop()
  }

  test("thetaByTypeStream blobs intersect identically to batch sketches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{CompactSketch, SetOperation}
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.thetaByTypeStream(input.toDF().toDF("user_id", "event_type"))
      .writeStream.format("memory").queryName("theta")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L to 30L).map(u => (u, "a")) ++ (10L to 40L).map(u => (u, "b")): _*)
      q.processAllAvailable()
      input.addData((25L to 60L).map(u => (u, "a")): _*)
      q.processAllAvailable()
      val blobs = spark.table("theta").collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      def sk(b: Array[Byte]) = CompactSketch.wrap(Memory.wrap(b))
      // state persisted across micro-batches: |a| = 60, |b| = 31 (exact regime)
      assert(math.round(sk(blobs("a")).getEstimate) === 60L)
      assert(math.round(sk(blobs("b")).getEstimate) === 31L)
      // intersection on the emitted blobs = |a ∩ b| = users 10..40
      val inter = SetOperation.builder().buildIntersection()
      inter.intersect(sk(blobs("a"))); inter.intersect(sk(blobs("b")))
      assert(math.round(inter.getResult.getEstimate) === 31L)
    } finally q.stop()
  }

  test("kllDailyStream blobs answer quantiles identically to batch in the exact regime") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val q = EventStreams.kllDailyStream(input.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("kllstream")
      .outputMode(OutputMode.Complete()).start()
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d $h%02d:00:00")
    try {
      input.addData((1 to 40).map(i => (ts(1 + i % 2, i % 24), i.toDouble)): _*)
      q.processAllAvailable()
      input.addData((41 to 90).map(i => (ts(1 + i % 2, i % 24), i.toDouble)): _*)
      q.processAllAvailable()
      val blobs = spark.table("kllstream").collect()
        .map(r => r.getTimestamp(0) -> (r.getAs[Array[Byte]](1), r.getLong(2))).toMap
      assert(blobs.size === 2) // two days of state, maintained across batches
      // exact regime: each day's blob returns the exact median of ALL
      // values routed to that day across BOTH micro-batches
      val byDay = (1 to 90).groupBy(i => ts(1 + i % 2, i % 24).toLocalDateTime.toLocalDate)
      blobs.foreach { case (day, (blob, n)) =>
        val vs = byDay(day.toLocalDateTime.toLocalDate).map(_.toDouble).sorted
        assert(n === vs.length.toLong)
        val sk = KllDoublesSketch.heapify(Memory.wrap(blob))
        assert(sk.getQuantile(0.5) ===
          vs(vs.indices.find(i => (i + 1).toDouble / vs.length >= 0.5).get))
      }
    } finally q.stop()
  }

  test("countMinStream maintains the exact batch sketch table across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = EventStreams.countMinStream(input.toDF().toDF("user_id"), width = 32)
      .writeStream.format("memory").queryName("cmstream")
      .outputMode(OutputMode.Complete()).start()
    try {
      val batch1 = (1L to 40L) ++ Seq(7L, 7L, 7L)
      val batch2 = (30L to 60L) ++ Seq(9L, 9L)
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cmstream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      // parity: the live state equals the batch sketch over all data seen
      import spark.implicits._
      val batch = graft.operators.Relational
        .countMinTable((batch1 ++ batch2).toDF("user_id"), "user_id", width = 32)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
      // constant state: at most depth x width rows however many keys arrive
      assert(streamed.size <= 4 * 32)
    } finally q.stop()
  }

  test("streaming quality gate scores an unbounded doc stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val model = graft.operators.QualityModel.fit(docs)
    // stream two real corpus docs through the gate: stateless map-only
    // inference must reproduce the batch scores bit-for-bit
    val sample = docs.select("doc_id", "text").orderBy("doc_id").limit(2).collect()
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.QualityModel
      .scoreStream(input.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("qgate").outputMode(OutputMode.Append()).start()
    try {
      input.addData(sample.map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("qgate").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.size === 2)
      streamed.values.foreach(p => assert(p >= 0.0 && p <= 1.0))
      // score batch with the SAME fitted model — parity is then a
      // property of the scoring path, not of two independent L-BFGS
      // fits happening to aggregate bit-identically
      val batch = graft.operators.QualityModel.qualityScore(spark, sf, model = model)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      streamed.foreach { case (id, p) => assert(p === batch(id), s"doc $id") }
    } finally q.stop()
  }

  test("streamingSearch joins a query stream against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.points(spark, sf)
    val input = MemoryStream[(Long, Long)] // (query_id, user)
    val queries = input.toDF().toDF("query_id", "quser")
      .join(corpus.select($"id".as("query_id"), $"vector".as("qvec")), Seq("query_id"))
    val q = EventStreams.streamingSearch(queries, corpus, k = 3)
      .writeStream.format("memory").queryName("ssearch").outputMode(OutputMode.Complete()).start()
    try {
      input.addData((0L, 0L), (1L, 1L))
      q.processAllAvailable()
      val rows = spark.table("ssearch").collect()
      assert(rows.length === 2)
      rows.foreach(r => assert(r.getSeq[Any](1).length === 3))
    } finally q.stop()
  }

  test("graphMaintainStream rotates generations: batch-API parity, replay no-op, torn convergence") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.{Generations, GraphIndex}
    val base = java.nio.file.Files.createTempDirectory("graphstream").toString
    val root = base + "/graph"
    val batch1 = (0L until 24L).map(i =>
      (i, Seq(math.cos((i % 6).toDouble) + i / 100.0,
        math.sin((i % 6).toDouble) - i / 200.0)))
    val batch2 = (100L until 108L).map(i =>
      (i, Seq(math.cos((i % 6).toDouble) - i / 300.0,
        math.sin((i % 6).toDouble) + i / 400.0)))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.graphMaintainStream(
      input.toDF().toDF("vec_id", "vec"), root, base + "/ckpt").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      assert(new org.apache.hadoop.fs.Path(
        Generations.live(spark, root, GraphIndex.relations).map(_.path).get).getName ===
        Generations.dir(0L))
      input.addData(batch2: _*)
      q.processAllAvailable()
      val liveDir = Generations.live(spark, root, GraphIndex.relations).map(_.path).get
      assert(new org.apache.hadoop.fs.Path(liveDir).getName ===
        Generations.dir(1L))
      // PARITY: the streamed generation is the batch API's own merge on
      // the same inputs — identical edge SET (build + insertTo are
      // deterministic), so every batch-route guarantee carries over
      val b1 = GraphIndex.build(batch1.toDF("vec_id", "vec"), s"$base/b1")
      b1.insertTo(batch2.toDF("vec_id", "vec"), s"$base/b2")
      val streamedEdges = spark.read.parquet(s"$liveDir/edges")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchEdges = spark.read.parquet(s"$base/b2/edges")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedEdges === batchEdges && streamedEdges.nonEmpty)
      // streamed vectors are reachable: a new point's own vector finds
      // it at rank 1 through the live generation
      val live = GraphIndex.openLive(spark, root)
      val hit = live.search(batch2.head._2, k = 1).head()
      assert(hit.getLong(1) === 100L)
      // REPLAY NO-OP: a fresh checkpoint restarts batchIds at 0; gen-0
      // is already committed, so the replayed batch is skipped and the
      // live generation stays gen-1. The skip keys on gen-0's OWN
      // commit, not the live name (ADVICE r12): under a live-name
      // compare this replay would take the process path and
      // mode-overwrite committed gen-0 with a merge that DUPLICATES
      // batch1's vec_ids — so capture gen-0's vectors relation and
      // assert it is bit-identical after the replay, not just that
      // Generations.live still says gen-1 (which would pass vacuously).
      val gen0Vectors = s"$root/${Generations.dir(0L)}/vectors"
      val gen0Before = spark.read.parquet(gen0Vectors).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val input2 = MemoryStream[(Long, Seq[Double])]
      val q2 = EventStreams.graphMaintainStream(
        input2.toDF().toDF("vec_id", "vec"), root, base + "/ckpt2").start()
      try {
        input2.addData(batch1: _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(new org.apache.hadoop.fs.Path(
        Generations.live(spark, root, GraphIndex.relations).map(_.path).get).getName ===
        Generations.dir(1L), "replayed committed batch must skip")
      val gen0After = spark.read.parquet(gen0Vectors).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      assert(gen0After === gen0Before,
        "a replayed committed batch must leave its generation untouched")
      assert(gen0After.map(_._1).distinct.length === gen0After.length,
        "replay must never duplicate vec_ids into a committed generation")
      // TORN-ATTEMPT CONVERGENCE: a crashed batch-2 attempt left a
      // partial gen-2 (edges dir, no _SUCCESS anywhere) — never served
      val torn = new java.io.File(s"$root/${Generations.dir(2L)}/edges")
      torn.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(torn.getPath, "part-garbage"),
        "torn".getBytes)
      assert(new org.apache.hadoop.fs.Path(
        Generations.live(spark, root, GraphIndex.relations).map(_.path).get).getName ===
        Generations.dir(1L), "a torn generation must never serve")
      // the replayed batch overwrites the torn attempt and commits
      input.addData((200L, Seq(0.9, 0.9)), (201L, Seq(-0.9, 0.4)))
      q.processAllAvailable()
      assert(new org.apache.hadoop.fs.Path(
        Generations.live(spark, root, GraphIndex.relations).map(_.path).get).getName ===
        Generations.dir(2L))
      val live2 = GraphIndex.openLive(spark, root)
      assert(live2.search(Seq(0.9, 0.9), k = 1).head().getLong(1) === 200L)
      // rotation GC: at most live + previous generation remain
      val gens = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName)
      assert(gens.length <= 2)
    } finally q.stop()
  }

  test("multivecMaintainStream rotates generations: batch parity, doc replace, replay no-op, torn convergence") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.{Generations, MultiVecIndex}
    val base = java.nio.file.Files.createTempDirectory("mvstream").toString
    val root = base + "/mv"
    def tok(doc: Long, t: Long, shift: Double = 0.0) = {
      val c = (doc % 4).toDouble
      (doc, doc * 4 + t,
        Seq(math.cos(c) + t / 50.0 + shift, math.sin(c) - t / 80.0))
    }
    val batch1 = for (d <- 0L until 12L; t <- 0L until 4L) yield tok(d, t)
    // batch 2: two new docs + a RE-ENCODED doc 1 (shifted tokens — an
    // append-style merge would leave its stale tokens scoring)
    val batch2 = (for (d <- 100L until 102L; t <- 0L until 4L)
      yield tok(d, t)) ++ (0L until 4L).map(t => (1L, 400L + t,
        Seq(9.0 + t / 10.0, 9.0 - t / 10.0)))
    val input = MemoryStream[(Long, Long, Seq[Double])]
    val q = EventStreams.multivecMaintainStream(
      input.toDF().toDF("doc", "vec_id", "vec"), root, base + "/ckpt",
      nlist = 4).start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      assert(Generations.live(spark, root, MultiVecIndex.relations).map(_.path).get
        .contains(Generations.dir(0L)))
      input.addData(batch2: _*)
      q.processAllAvailable()
      val live = MultiVecIndex.openLive(spark, root)
      assert(Generations.live(spark, root, MultiVecIndex.relations).map(_.path).get
        .contains(Generations.dir(1L)))
      // PARITY: the streamed generation is the batch API's own merge on
      // the same inputs — identical token ROWS, identical cluster
      // MEMBERSHIP. (List ids/centroid ulps compare label-invariantly:
      // the seeded KMeans init samples by partition, so a MemoryStream
      // build can label the same clusters in a different order than a
      // local-seq build — membership is what the serving contract
      // rests on.)
      val b1 = MultiVecIndex.build(batch1.toDF("doc", "vec_id", "vec"),
        s"$base/b1/ivf", nlist = 4)
      val b2 = b1.upsertTo(batch2.toDF("doc", "vec_id", "vec"), s"$base/b2/ivf")
      def rows(ix: MultiVecIndex) = ix.ann.points
        .select("doc", "vec_id", "vec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows(live) === rows(b2) && rows(live).nonEmpty)
      def membership(ix: MultiVecIndex): Set[Set[Long]] = ix.ann.points
        .select("vec_id", "list").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      assert(membership(live) === membership(b2))
      // the quantizer carried over from gen-0 EXACTLY (ids included —
      // rotation never refits or relabels)
      val gen0Cents = graft.api.AnnIndex.load(spark,
        s"$root/${Generations.dir(0L)}/ivf")
        .centroids.map { case (i, c) => (i, c.toSeq) }.toSeq
      assert(live.ann.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq
        === gen0Cents)
      // DOC REPLACE: doc 1 serves its re-encoded bag, not the original
      assert(live.tokensOf(1L) === (0L until 4L)
        .map(t => Seq(9.0 + t / 10.0, 9.0 - t / 10.0)))
      // a shifted-doc query finds the replacement through the live gen
      assert(live.search(Seq(Seq(9.0, 9.0)), k = 1, nprobe = 4,
        tokenK = 64).head().getLong(0) === 1L)
      // REPLAY NO-OP: fresh checkpoint restarts at batch 0 — gen-0 is
      // committed, so it skips AND its token relation stays
      // bit-identical (the skip keys on gen-0's own commit)
      val gen0 = s"$root/${Generations.dir(0L)}/ivf"
      val before = spark.read.parquet(gen0).collect()
        .map(r => r.toSeq).sortBy(_.toString).toSeq
      val input2 = MemoryStream[(Long, Long, Seq[Double])]
      val q2 = EventStreams.multivecMaintainStream(
        input2.toDF().toDF("doc", "vec_id", "vec"), root, base + "/ckpt2",
        nlist = 4).start()
      try { input2.addData(batch1: _*); q2.processAllAvailable() }
      finally q2.stop()
      assert(Generations.live(spark, root, MultiVecIndex.relations).map(_.path).get
        .contains(Generations.dir(1L)))
      assert(spark.read.parquet(gen0).collect()
        .map(r => r.toSeq).sortBy(_.toString).toSeq === before)
      // TORN ATTEMPT: a crashed gen-2 (garbage, no _SUCCESS) never
      // serves; the replayed batch overwrites it and commits
      val torn = new java.io.File(
        s"$root/${Generations.dir(2L)}/ivf")
      torn.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(torn.getPath, "part-garbage"), "torn".getBytes)
      assert(Generations.live(spark, root, MultiVecIndex.relations).map(_.path).get
        .contains(Generations.dir(1L)))
      input.addData((200L, 800L, Seq(-7.0, -7.0)))
      q.processAllAvailable()
      assert(Generations.live(spark, root, MultiVecIndex.relations).map(_.path).get
        .contains(Generations.dir(2L)))
      assert(MultiVecIndex.openLive(spark, root)
        .search(Seq(Seq(-7.0, -7.0)), k = 1, nprobe = 4, tokenK = 64)
        .head().getLong(0) === 200L)
      // rotation GC: at most live + previous generation remain
      val gens = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName)
      assert(gens.length <= 2)
    } finally q.stop()
  }

  test("annMaintainStream lands streamed vectors exactly-once on both partition axes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.AnnIndex
    val base = java.nio.file.Files.createTempDirectory("annstream").toString
    val path = base + "/idx"
    val seed = (1L to 16L).map(i =>
      (i, Seq((i % 4).toDouble, i / 10.0), s"s${i % 2}"))
      .toDF("vec_id", "vec", "site")
    AnnIndex.build(seed, path, nlist = 2, keyword = Seq("site"))
    val input = MemoryStream[(Long, Seq[Double], String)]
    val q = EventStreams.annMaintainStream(
      input.toDF().toDF("vec_id", "vec", "site"), path, base + "/ckpt").start()
    try {
      input.addData((100L, Seq(0.1, 0.1), "s0"))
      q.processAllAvailable()
      input.addData((101L, Seq(3.9, 1.5), "s1"), (102L, Seq(0.2, 0.3), "s0"))
      q.processAllAvailable()
      assert(spark.read.parquet(path).count() === 19L)
      // streamed rows serve through filtered search (keyword + probe
      // pruning compose over the appended files)
      val loaded = AnnIndex.load(spark, path)
      val hits = loaded.search(Seq(0.1, 0.1), k = 20, nprobe = 2,
        eq = Map("site" -> Seq("s0"))).collect().map(_.getLong(0))
      assert(hits.contains(100L) && hits.contains(102L) && !hits.contains(101L))
      // both batches left commit markers (the replay-skip certificate)
      val markers = new java.io.File(s"${path}_meta/batches").listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).sorted
      assert(markers === Array("batch-0", "batch-1"))
    } finally q.stop()
  }

  test("payloadMaintainStream appends batches exactly-once with zone widening") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.PayloadIndex
    import graft.api.Filters._
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("pistream").toString
    val root = base + "/pidx"
    val schema = StructType.fromDDL("uid BIGINT, tag STRING, text STRING")
    def mk(rows: (Long, String, String)*) = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    PayloadIndex.create(spark,
      mk((1L, "a", "alpha beta"), (2L, "b", "beta gamma")), root,
      keyword = Seq("tag"), integer = Seq("uid"), nZones = 2,
      text = Seq("text"), idCol = "uid")
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.payloadMaintainStream(
      input.toDF().toDF("uid", "tag", "text"), root, base + "/ckpt").start()
    try {
      input.addData((3L, "a", "delta beta"))
      q.processAllAvailable()
      // a value far outside the created zones — only the widened
      // manifest can route a range read to it
      input.addData((500L, "b", "epsilon"))
      q.processAllAvailable()
      val idx = PayloadIndex.load(spark, root)
      assert(idx.readFilter().count() === 4L)
      assert(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("beta"))))).count() === 3L)
      assert(idx.readFilter(PFilter(must = Seq(MatchText("text", Seq("epsilon"))))).count() === 1L)
      assert(idx.readFilter(PFilter(must = Seq(RangeInt("uid", 400L, 600L)))).count() === 1L)
      assert(idx.readFilter(PFilter(must = Seq(
        MatchAny("tag", Seq("a")), MatchText("text", Seq("delta"))))).count() === 1L)
      // both batches left commit markers (the replay-skip certificate)
      val markers = new java.io.File(s"$root/batches").listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).sorted // drop CRC sidecars
      assert(markers === Array("batch-0", "batch-1"))
    } finally q.stop()
  }
}
