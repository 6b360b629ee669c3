package graft

import graft.api.{Aliases, Generations, SnapshotGc, VectorIndex}

class SnapshotGcSpec extends SparkSpecBase {

  private def mkRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-gc-").toString
    dir
  }

  private def writeGen(root: String, id: Long, committed: Boolean): Unit = {
    import spark.implicits._
    val p = s"$root/${Generations.dir(id)}"
    Seq(id).toDF("v").coalesce(1).write.parquet(p)
    if (!committed)
      new java.io.File(s"$p/_SUCCESS").delete()
  }

  test("plan keeps live + history, deletes old and superseded-torn, spares in-flight") {
    val root = mkRoot()
    writeGen(root, 0, committed = true)
    writeGen(root, 1, committed = false) // crashed write, superseded by gen-2
    writeGen(root, 2, committed = true)
    writeGen(root, 3, committed = true)
    writeGen(root, 4, committed = true)  // live
    writeGen(root, 5, committed = false) // possibly in-flight
    // tornRetentionMs = 0: every superseded torn write is already "old"
    val byGen = SnapshotGc.plan(spark, root, keepHistory = 2, tornRetentionMs = 0L)
      .map(e => e.generation -> e.action).toMap
    assert(byGen(Generations.dir(4)) === "keep-live")
    assert(byGen(Generations.dir(3)) === "keep-history")
    assert(byGen(Generations.dir(2)) === "keep-history")
    assert(byGen(Generations.dir(0)) === "delete")
    assert(byGen(Generations.dir(1)) === "delete-torn")
    assert(byGen(Generations.dir(5)) === "keep-inflight")
  }

  test("torn retention: a young superseded torn write is spared until it ages out") {
    val root = mkRoot()
    writeGen(root, 0, committed = false) // racing writer: allocated 0 first,
    writeGen(root, 1, committed = true)  // this one committed second
    // under the default retention the gen-0 write may still be in
    // flight — supersession alone must NOT classify it delete-torn
    val young = SnapshotGc.plan(spark, root)
      .map(e => e.generation -> e.action).toMap
    assert(young(Generations.dir(0)) === "keep-inflight")
    // age the directory past a short retention → now it's a crashed
    // write and run() reaps it
    new java.io.File(s"$root/${Generations.dir(0)}")
      .setLastModified(System.currentTimeMillis() - 60000)
    val aged = SnapshotGc.run(spark, root, tornRetentionMs = 1000L)
      .map(e => e.generation -> e.action).toMap
    assert(aged(Generations.dir(0)) === "delete-torn")
    assert(!new java.io.File(s"$root/${Generations.dir(0)}").exists())
  }

  test("run deletes exactly the planned generations and the live pointer survives") {
    val root = mkRoot()
    (0L to 4L).foreach(writeGen(root, _, committed = true))
    val liveBefore = VectorIndex.resolveSnapshot(spark, root)
    SnapshotGc.run(spark, root, keepHistory = 1)
    assert(VectorIndex.resolveSnapshot(spark, root) === liveBefore)
    val left = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("gen-")).sorted
    assert(left.toSeq === Seq(Generations.dir(3), Generations.dir(4)))
    // idempotent: a second run deletes nothing further
    val second = SnapshotGc.run(spark, root, keepHistory = 1)
    assert(second.forall(e => e.action.startsWith("keep")))
  }

  test("gc over an alias registry never breaks resolution") {
    val reg = mkRoot()
    Aliases.set(spark, reg, "prod", "/data/v1")
    Aliases.set(spark, reg, "prod", "/data/v2")
    Aliases.set(spark, reg, "prod", "/data/v3")
    assert(Aliases.resolve(spark, reg, "prod") === Some("/data/v3"))
    SnapshotGc.run(spark, s"$reg/prod", keepHistory = 0)
    assert(Aliases.resolve(spark, reg, "prod") === Some("/data/v3"))
    val left = new java.io.File(s"$reg/prod").listFiles()
      .map(_.getName).count(_.startsWith("gen-"))
    assert(left === 1)
  }

  test("time travel: loadAt serves a specific generation; history lists every re-point") {
    import spark.implicits._
    import graft.api.VectorIndex
    val root = mkRoot() + "/idx"
    // two committed index generations with different contents
    def writePoints(gen: Long, n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq.fill(4)(0.1 * i), s"doc $i", i.toLong % 3,
          "s", "en", gen))
        .toDF("id", "vector", "text", "user_id", "site", "lang", "seq")
        .write.parquet(s"$root/${Generations.dir(gen)}")
    writePoints(0, 3)
    writePoints(1, 5)
    assert(VectorIndex.generations(spark, root) === Seq(0L, 1L))
    assert(VectorIndex.loadAt(spark, root, 0).points.count() === 3)
    assert(VectorIndex.load(spark, root).points.count() === 5) // live = newest
    intercept[IllegalArgumentException](VectorIndex.resolveSnapshotAt(spark, root, 7))
    // alias history pairs with it: the audit trail of re-points
    val reg = mkRoot()
    Aliases.set(spark, reg, "prod", "/data/v1")
    Aliases.set(spark, reg, "prod", "/data/v2")
    assert(Aliases.history(spark, reg, "prod").map(_._2) === Seq("/data/v1", "/data/v2"))
    // gc'd history disappears from the axis, live resolution intact
    SnapshotGc.run(spark, s"$reg/prod", keepHistory = 0)
    assert(Aliases.history(spark, reg, "prod").map(_._2) === Seq("/data/v2"))
  }

  test("multi-relation roots: a generation commits when every relation of its kind has") {
    import graft.api.{GraphIndex, HybridIndex, MultiVecIndex}
    for ((kind, relations) <- Seq("graph" -> GraphIndex.relations,
        "hybrid" -> HybridIndex.relations, "multivector" -> MultiVecIndex.relations)) {
      val root = mkRoot()
      // four committed generations, each relation its own parquet job
      (0L to 3L).foreach(id => relations.foreach { r =>
        val marker = new java.io.File(s"$root/${Generations.dir(id)}/$r/_SUCCESS")
        marker.getParentFile.mkdirs()
        marker.createNewFile()
      })
      val byGen = SnapshotGc.plan(spark, root, keepHistory = 1, tornRetentionMs = 0L,
        relations = relations).map(e => e.generation -> e.action).toMap
      assert(byGen === Map(Generations.dir(3) -> "keep-live",
        Generations.dir(2) -> "keep-history", Generations.dir(1) -> "delete",
        Generations.dir(0) -> "delete"), kind)
    }
  }

  test("empty and never-committed roots plan safely") {
    assert(SnapshotGc.plan(spark, "/tmp/graft-gc-missing-root-xyz") === Seq.empty)
    val root = mkRoot()
    writeGen(root, 0, committed = false)
    val p = SnapshotGc.plan(spark, root)
    // no committed generation: nothing is live, nothing is superseded
    assert(p.map(_.action) === Seq("keep-inflight"))
  }
}
