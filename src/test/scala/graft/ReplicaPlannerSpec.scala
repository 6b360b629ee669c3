package graft

import graft.api.{Generations, ReplicaPlanner, ShardTransfer, VectorIndex}

/** Replication atop the sharded deployment: placement invariants,
  * fingerprint-audited sync, divergence detection on a corrupted
  * replica, and anti-entropy repair by re-apply.
  */
class ReplicaPlannerSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mkIndex(ids: Range): VectorIndex = {
    import spark.implicits._
    VectorIndex(ids.map(i => (i.toLong, Seq.fill(4)(0.01 * i), s"doc $i",
        i.toLong % 5, s"s${i % 3}", "en", i.toLong))
      .toDF("id", "vector", "text", "user_id", "site", "lang", "seq"))
  }

  /** Three nodes holding one sharded collection (disjoint buckets). */
  private def mkCluster(n: Int = 300): Seq[String] = {
    val all = tmp("graft-rp-all-") + "/all"
    mkIndex(0 until n).save(s"$all/${Generations.dir(0)}")
    val buckets = ShardTransfer.plan(spark, all).collect().map(_.getInt(0)).toSeq
    val roots = Seq(tmp("graft-rp-0-") + "/n0", tmp("graft-rp-1-") + "/n1",
      tmp("graft-rp-2-") + "/n2")
    val slices = Seq(buckets.take(2), buckets.slice(2, 3), buckets.drop(3))
    roots.zip(slices).foreach { case (r, bs) =>
      if (bs.nonEmpty) ShardTransfer.run(spark, all, r, bs)
    }
    roots
  }

  test("placement: rf distinct nodes per bucket, deterministic, load-spread") {
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 3)
    val nBuckets = roots.map(r => ShardTransfer.plan(spark, r).count()).sum
    assert(p.placements.size === nBuckets)
    p.placements.foreach { pl =>
      val holders = pl.primary +: pl.replicas
      assert(holders.distinct.size === 3,
        s"bucket ${pl.bucket} copies co-located: $holders")
      assert(pl.replicas.forall(roots.contains))
    }
    // rf=3 over 3 nodes: every node holds every bucket exactly once
    roots.foreach { r =>
      val held = p.placements.count(pl => pl.primary == r || pl.replicas.contains(r))
      assert(held.toLong === nBuckets)
    }
    // deterministic re-plan
    assert(ReplicaPlanner.plan(spark, roots, 3).placements === p.placements)
    // rf=2: replica load spreads greedily — no node gets everything
    val p2 = ReplicaPlanner.plan(spark, roots, replicationFactor = 2)
    val total = p2.placements.map(_.nPoints).sum
    assert(p2.replicaLoads.values.max < total,
      s"one node absorbed every replica: ${p2.replicaLoads}")
    // rf above the node count is refused
    intercept[IllegalArgumentException](ReplicaPlanner.plan(spark, roots, 4))
  }

  test("apply materializes verified replicas; audit certifies sync; re-apply is a no-op") {
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 2)
    val written = ReplicaPlanner.apply(spark, p)
    assert(written.nonEmpty)
    val audit = ReplicaPlanner.audit(spark, p).collect()
    assert(audit.length === p.placements.size) // rf-1 = 1 replica per bucket
    assert(audit.forall(_.getBoolean(4)), s"out-of-sync rows: ${
      audit.filterNot(_.getBoolean(4)).map(_.toSeq).mkString("; ")}")
    // replica bytes = one extra copy of every point
    val replicaPoints = audit.map(_.getLong(2)).sum
    assert(replicaPoints === p.placements.map(_.nPoints).sum)
    // convergence: a second apply fingerprint-matches and writes nothing
    assert(ReplicaPlanner.apply(spark, p) === Seq.empty)
  }

  test("a corrupted replica is flagged by the audit and repaired by re-apply") {
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 2)
    ReplicaPlanner.apply(spark, p)
    // corrupt ONE replica: drop a parquet file from its live generation
    val victim = p.placements.head.replicas.head
    val live = VectorIndex.resolveSnapshot(spark,
      ReplicaPlanner.replicaRoot(victim))
    val lost = new java.io.File(live.stripPrefix("file:")).listFiles()
      .filter(f => f.getName.startsWith("bucket=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).head
    assert(lost.delete())
    val audit = ReplicaPlanner.audit(spark, p).collect()
    val bad = audit.filterNot(_.getBoolean(4))
    assert(bad.nonEmpty, "audit missed the corrupted replica")
    assert(bad.forall(_.getString(1) === victim),
      s"divergence misattributed: ${bad.map(_.toSeq).mkString("; ")}")
    // anti-entropy: re-apply rewrites exactly the diverged node, audit greens
    val repaired = ReplicaPlanner.apply(spark, p)
    assert(repaired === Seq(victim))
    assert(ReplicaPlanner.audit(spark, p).collect().forall(_.getBoolean(4)))
  }

  test("readN serves through a quorum, bypasses a corrupted copy, fails loud without one") {
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 3)
    ReplicaPlanner.apply(spark, p)
    val bucket = p.placements.head.bucket
    val primaryRows = ShardTransfer.plan(spark, p.placements.head.primary)
      .collect().find(_.getInt(0) == bucket).get.getLong(1)
    // n = 1 reads the primary (first copy always agrees with itself)
    assert(ReplicaPlanner.readN(spark, p, bucket, 1).count() === primaryRows)
    // n = rf cross-checks every copy — all in sync, so it serves
    val full = ReplicaPlanner.readN(spark, p, bucket, 3)
    assert(full.count() === primaryRows)
    assert(!full.columns.contains("bucket"))
    // corrupt one replica of the bucket: quorum n=2 still serves
    // (primary + surviving replica agree) and the bad copy is bypassed
    val victim = p.placements.head.replicas.head
    val live = VectorIndex.resolveSnapshot(spark,
      ReplicaPlanner.replicaRoot(victim))
    val lost = new java.io.File(live.stripPrefix("file:")).listFiles()
      .filter(_.getName === s"bucket=$bucket").flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).head
    assert(lost.delete())
    assert(ReplicaPlanner.readN(spark, p, bucket, 2).count() === primaryRows)
    // but a 3-of-3 quorum is now unattainable — loud failure, not
    // silently-served unverifiable rows
    val e = intercept[IllegalStateException](
      ReplicaPlanner.readN(spark, p, bucket, 3))
    assert(e.getMessage.contains("anti-entropy"))
    // out-of-range quorums and unknown buckets are refused
    intercept[IllegalArgumentException](ReplicaPlanner.readN(spark, p, bucket, 0))
    intercept[IllegalArgumentException](ReplicaPlanner.readN(spark, p, bucket, 4))
    intercept[IllegalArgumentException](ReplicaPlanner.readN(spark, p, -99, 1))
  }

  test("readN never certifies a quorum of ABSENT copies over a healthy primary") {
    // plan but do NOT apply: replicas hold nothing, and every absent
    // copy fingerprints (0,0) — identically to a genuinely empty
    // bucket. Two of those must not outvote the primary's data.
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 3)
    val bucket = p.placements.head.bucket
    val primaryRows = ShardTransfer.plan(spark, p.placements.head.primary)
      .collect().find(_.getInt(0) == bucket).get.getLong(1)
    assert(primaryRows > 0)
    // n=1 probes manifests in placement order and serves the first
    // LIVE copy — here the primary
    assert(ReplicaPlanner.readN(spark, p, bucket, 1).count() === primaryRows)
    // n=2: the two absent replicas agree with each other at (0,0) but
    // may not vote while the primary holds rows — loud failure, never
    // a quorum-certified empty result
    val e = intercept[IllegalStateException](
      ReplicaPlanner.readN(spark, p, bucket, 2))
    assert(e.getMessage.contains("anti-entropy"))
    // after apply, the same quorum serves
    ReplicaPlanner.apply(spark, p)
    assert(ReplicaPlanner.readN(spark, p, bucket, 2).count() === primaryRows)
    assert(ReplicaPlanner.readN(spark, p, bucket, 3).count() === primaryRows)
  }

  test("readN n=1 serves a live replica when the primary bucket is wiped") {
    // an absent/wiped primary must not shadow replicas that hold the
    // bucket: an unconditional serve(primary) would return ZERO rows
    // with no error — the silent-empty-read class
    val roots = mkCluster()
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 2)
    ReplicaPlanner.apply(spark, p)
    val pl = p.placements.head
    val rows = ShardTransfer.plan(spark, pl.primary)
      .collect().find(_.getInt(0) == pl.bucket).get.getLong(1)
    assert(rows > 0)
    // wipe the bucket from the primary's live snapshot
    val live = VectorIndex.resolveSnapshot(spark, pl.primary)
    val dir = new java.io.File(live.stripPrefix("file:"), s"bucket=${pl.bucket}")
    assert(dir.isDirectory)
    dir.listFiles().foreach(f => assert(f.delete())); assert(dir.delete())
    // the replica still holds the rows — n=1 must fall through to it
    assert(ReplicaPlanner.readN(spark, p, pl.bucket, 1).count() === rows)
  }

  test("replica sub-roots never leak into the primary's generation axis") {
    val roots = mkCluster()
    val before = roots.map(r => VectorIndex.generations(spark, r))
    val p = ReplicaPlanner.plan(spark, roots, replicationFactor = 2)
    ReplicaPlanner.apply(spark, p)
    assert(roots.map(r => VectorIndex.generations(spark, r)) === before,
      "materializing replicas must not advance any primary generation")
    // and primaries still serve their own disjoint content
    val total = roots.map(r => VectorIndex.load(spark, r).points.count()).sum
    assert(total === 300L)
  }
}
