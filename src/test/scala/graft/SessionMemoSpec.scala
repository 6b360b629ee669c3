package graft

import graft.operators.SessionMemo

class SessionMemoSpec extends SparkSpecBase {

  // ledger cases use a fresh artifact name each, so fills recorded by
  // other memos in this JVM never show up in their totals
  private def freshName(): String = s"spec_fill_${java.util.UUID.randomUUID()}"
  private def fills(name: String): SessionMemo.FillTotal =
    SessionMemo.fillTotals.getOrElse(name, SessionMemo.FillTotal(0, 0.0))

  test("a cold key records one fill under the memo's name; a hit records nothing") {
    val name = freshName()
    val memo = new SessionMemo[Int, String](name)
    memo.getOrElseUpdate(spark, "ledger", 1) { Thread.sleep(50); "v" }
    val cold = fills(name)
    assert(cold.fills === 1)
    assert(cold.seconds >= 0.05)
    memo.getOrElseUpdate(spark, "ledger", 1)(fail("a hit must not build"))
    assert(fills(name) === cold)
  }

  test("a nested fill's seconds are counted once, under its own artifact") {
    val (outerName, innerName) = (freshName(), freshName())
    val outer = new SessionMemo[Int, String](outerName)
    val inner = new SessionMemo[Int, String](innerName)
    val t0 = System.nanoTime()
    outer.getOrElseUpdate(spark, "nest", 1) {
      Thread.sleep(100)
      inner.getOrElseUpdate(spark, "nest", 1) { Thread.sleep(300); "in" } + "out"
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (o, i) = (fills(outerName), fills(innerName))
    assert(o.fills === 1 && i.fills === 1)
    assert(i.seconds >= 0.3)
    assert(o.seconds >= 0.1 && o.seconds < 0.3,
      s"the outer fill must exclude the nested build (got ${o.seconds} s)")
    assert(o.seconds + i.seconds <= wall)
    // the same artifact nested in itself: still one wall's worth
    val same = freshName()
    val a = new SessionMemo[Int, String](same)
    val b = new SessionMemo[Int, String](same)
    val t1 = System.nanoTime()
    a.getOrElseUpdate(spark, "nest", 1) {
      Thread.sleep(100); b.getOrElseUpdate(spark, "nest", 1) { Thread.sleep(100); "b" }
    }
    val wall2 = (System.nanoTime() - t1) / 1e9
    assert(fills(same).fills === 2)
    assert(fills(same).seconds >= 0.2 && fills(same).seconds <= wall2)
  }

  test("two threads racing a cold key record one fill") {
    val name = freshName()
    val memo = new SessionMemo[Int, String](name)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map(_ => new Thread(() => {
      start.await()
      memo.getOrElseUpdate(spark, "race-fill", 1) { Thread.sleep(200); "v" }
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(fills(name).fills === 1)
  }

  test("getOrElseUpdate builds once per (session, dir, key) and memoizes") {
    val memo = new SessionMemo[Int, String]("spec_memo")
    var builds = 0
    def get(dir: String, k: Int): String =
      memo.getOrElseUpdate(spark, dir, k) { builds += 1; s"$dir/$k" }
    assert(get("a", 1) === "a/1")
    assert(get("a", 1) === "a/1")
    assert(builds === 1)
    assert(get("a", 2) === "a/2")
    assert(get("b", 1) === "b/1")
    assert(builds === 3)
    assert(memo.size === 3)
  }

  test("invalidatePath drops only that dir's entries and fires onEvict") {
    val evicted = scala.collection.mutable.ListBuffer.empty[String]
    val memo = new SessionMemo[Int, String]("spec_memo", evicted += _)
    memo.getOrElseUpdate(spark, "a", 1)("a1")
    memo.getOrElseUpdate(spark, "a", 2)("a2")
    memo.getOrElseUpdate(spark, "b", 1)("b1")
    memo.invalidatePath("a")
    assert(evicted.sorted === Seq("a1", "a2"))
    assert(memo.size === 1)
    var rebuilt = false
    memo.getOrElseUpdate(spark, "a", 1) { rebuilt = true; "a1'" }
    assert(rebuilt) // the dropped entry is gone, not resurrected
    memo.getOrElseUpdate(spark, "b", 1)(fail("b must still be memoized"))
  }

  test("invalidate(session) drops that session's entries; other sessions keep theirs") {
    val memo = new SessionMemo[Int, String]("spec_memo")
    val other = spark.newSession()
    memo.getOrElseUpdate(spark, "d", 1)("mine")
    memo.getOrElseUpdate(other, "d", 1)("theirs")
    assert(memo.size === 2) // distinct sessions → distinct entries
    SessionMemo.invalidate(spark)
    assert(memo.size === 1)
    memo.getOrElseUpdate(other, "d", 1)(fail("other session's entry must survive"))
  }

  test("session keys are stable per session object and distinct across sessions") {
    val a = SessionMemo.sessionKey(spark)
    assert(SessionMemo.sessionKey(spark) === a)
    assert(SessionMemo.sessionKey(spark.newSession()) !== a)
  }

  test("a drop racing an in-flight build still releases the built value") {
    // the leak class the memo exists to prevent: invalidate fires while
    // the builder thread is inside the lazy val — the drop must either
    // wait the build out (holder monitor) or mark the holder so the
    // build side self-evicts; a value whose entry is gone may never
    // keep its cached blocks pinned
    val evicted = new java.util.concurrent.atomic.AtomicInteger(0)
    val memo = new SessionMemo[Int, String]("spec_memo", _ => evicted.incrementAndGet())
    val buildStarted = new java.util.concurrent.CountDownLatch(1)
    val builder = new Thread(() =>
      memo.getOrElseUpdate(spark, "race", 1) {
        buildStarted.countDown()
        Thread.sleep(300) // a slow build (e.g. caching a signature table)
        "built"
      })
    builder.start()
    buildStarted.await()
    memo.invalidatePath("race") // fires mid-build
    builder.join()
    assert(memo.size === 0)
    // EXACTLY once: the drop side consumes the eviction under the
    // holder lock, so the build side's dropped-check is a no-op — a
    // double onEvict would break the first non-idempotent callback
    // anyone registers
    assert(evicted.get() === 1,
      "the in-flight build's value must be evicted exactly once " +
        s"(got ${evicted.get()})")
    // and the entry is genuinely gone: the next get rebuilds
    var rebuilt = false
    memo.getOrElseUpdate(spark, "race", 1) { rebuilt = true; "fresh" }
    assert(rebuilt)
  }

  test("invalidatePath is path-aware: a write under a child drops the root's memos (and vice versa), never a name-prefix sibling") {
    val memo = new SessionMemo[Int, String]("spec_memo")
    memo.getOrElseUpdate(spark, "/r", 1)("root")
    memo.getOrElseUpdate(spark, "/r/gen-0", 1)("gen0")
    memo.getOrElseUpdate(spark, "/r/gen-1", 1)("gen1")
    memo.getOrElseUpdate(spark, "/rx", 1)("name-prefix sibling")
    // a generation landing under the root invalidates the ROOT's view
    // (readers resolve generations through it) and the written dir
    // itself — NOT an unrelated sibling generation, NOT "/rx"
    memo.invalidatePath("/r/gen-1")
    assert(memo.getIfPresent(spark, "/r", 1).isEmpty)
    assert(memo.getIfPresent(spark, "/r/gen-1", 1).isEmpty)
    assert(memo.getIfPresent(spark, "/r/gen-0", 1) === Some("gen0"))
    assert(memo.getIfPresent(spark, "/rx", 1) === Some("name-prefix sibling"))
    // and the other direction: rewriting the root drops every child
    memo.invalidatePath("/r")
    assert(memo.getIfPresent(spark, "/r/gen-0", 1).isEmpty)
    assert(memo.getIfPresent(spark, "/rx", 1) === Some("name-prefix sibling"))
  }

  test("getIfPresent peeks without building") {
    val memo = new SessionMemo[Int, String]("spec_memo")
    assert(memo.getIfPresent(spark, "p", 1).isEmpty)
    assert(memo.size === 0) // the peek must not create a holder
    memo.getOrElseUpdate(spark, "p", 1)("v")
    assert(memo.getIfPresent(spark, "p", 1) === Some("v"))
    memo.invalidatePath("p")
    assert(memo.getIfPresent(spark, "p", 1).isEmpty)
  }

  test("a production publish (VectorIndex.save) invalidates memos under the written root — mutate-then-query serves fresh state") {
    // the VERDICT r13 #5 contract: memo coherence is enforced at the
    // write choke points, not by the "nobody rewrites a snapshot dir
    // in-session" convention. Fill memos against a root, publish a
    // generation under it through the PRODUCTION write path, and prove
    // the next query re-reads instead of serving the pre-publish value.
    val root = java.nio.file.Files.createTempDirectory("memo-pub").toString
    val memo = new SessionMemo[Int, String]("spec_memo")
    memo.getOrElseUpdate(spark, root, 1)("pre-publish")
    memo.getOrElseUpdate(spark, root + "-other", 1)("unrelated")
    import spark.implicits._
    val pts = Seq((1L, Seq(0.1, 0.2), "t", 7L, "s", "en", 1L))
      .toDF("id", "vector", "text", "user_id", "site", "lang", "seq")
    graft.api.VectorIndex(pts).save(s"$root/gen-1")
    assert(memo.getIfPresent(spark, root, 1).isEmpty,
      "the published root's memo must be gone")
    assert(memo.getIfPresent(spark, root + "-other", 1) === Some("unrelated"))
    var rebuilt = false
    val v = memo.getOrElseUpdate(spark, root, 1) { rebuilt = true; "fresh" }
    assert(rebuilt && v === "fresh")
  }

  test("every generation commit and batch publish invalidates the memos keyed on its root") {
    import graft.api.{Aliases, CommitProtocol, PayloadIndex, ShardTransfer, Snapshots, VectorIndex}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("memo-commit").toString
    val memo = new SessionMemo[Int, String]("spec_memo")
    // fill a memo on `root`, run one publish path, expect the entry gone
    def invalidates(path: String, root: String)(commit: => Unit): Unit = {
      memo.getOrElseUpdate(spark, root, 1)("pre-commit")
      commit
      assert(memo.getIfPresent(spark, root, 1).isEmpty,
        s"$path must drop the memos keyed on $root")
    }
    val pts = (0L until 40L).map(i => (i, Seq(0.1 * i, 1.0), s"t$i", i % 8, "s", "en", i))
      .toDF("id", "vector", "text", "user_id", "site", "lang", "seq")
    val (src, dst) = (s"$base/src", s"$base/dst")
    VectorIndex(pts).save(s"$src/${graft.api.Generations.dir(0)}")
    val bucket = ShardTransfer.plan(spark, src).collect().head.getInt(0)
    invalidates("ShardTransfer.copyToTarget", dst)(
      ShardTransfer.copyToTarget(spark, src, dst, Seq(bucket)))
    invalidates("ShardTransfer.pruneSource", src)(
      ShardTransfer.pruneSource(spark, src, Seq(bucket)))
    val reg = s"$base/aliases"
    Aliases.set(spark, reg, "prod", "/data/v1")
    invalidates("Aliases.set", s"$reg/prod")(Aliases.set(spark, reg, "prod", "/data/v2"))
    Snapshots.create(spark, dst, s"$base/snaps", "s1")
    invalidates("Snapshots.restore", dst)(Snapshots.restore(spark, s"$base/snaps/s1", dst))
    val payload = s"$base/payload"
    val idx = PayloadIndex.create(spark, pts.select("id", "user_id", "site"), payload,
      keyword = Seq("site"), integer = Seq("user_id"), nZones = 2)
    invalidates("PayloadIndex.insert (zones generation + batch publish)", s"$payload/zones")(
      idx.insert(Seq((100L, 99L, "s")).toDF("id", "user_id", "site")))
    val flat = s"$base/flat"
    Seq(1L).toDF("v").write.parquet(s"$base/staged")
    val fs = new org.apache.hadoop.fs.Path(flat)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    invalidates("CommitProtocol.publish", flat)(
      CommitProtocol.publish(fs, flat, flat, 0L,
        Seq(new org.apache.hadoop.fs.Path(s"$base/staged") -> "")))
  }

  test("onEvict failures don't abort invalidation") {
    val memo = new SessionMemo[Int, String]("spec_memo",
      _ => sys.error("unpersist on a stopped session"))
    memo.getOrElseUpdate(spark, "x", 1)("v1")
    memo.getOrElseUpdate(spark, "x", 2)("v2")
    memo.invalidatePath("x") // must not throw
    assert(memo.size === 0)
  }
}
