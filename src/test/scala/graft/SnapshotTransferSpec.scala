package graft

import graft.api.{Generations, ShardTransfer, Snapshots, VectorIndex}
import org.apache.spark.sql.functions._

/** Snapshot export/recover + shard transfer — the Qdrant
  * snapshot/shard-movement endpoint family as batch library APIs.
  */
class SnapshotTransferSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mkIndex(ids: Range, nBuckets: Int = 8): VectorIndex = {
    import spark.implicits._
    VectorIndex(ids.map(i => (i.toLong, Seq.fill(4)(0.01 * i), s"doc $i",
        i.toLong % 5, s"s${i % 3}", "en", i.toLong))
      .toDF("id", "vector", "text", "user_id", "site", "lang", "seq"))
  }

  test("snapshot: create -> list -> verify -> restore lands a verified committed generation") {
    val idxRoot = tmp("graft-snap-idx-") + "/col"
    val snapRoot = tmp("graft-snap-root-")
    mkIndex(0 until 200).save(s"$idxRoot/${Generations.dir(0)}")

    val m = Snapshots.create(spark, idxRoot, snapRoot, "pre-migration")
    assert(m.nRows === 200L)
    assert(Snapshots.list(spark, snapRoot).map(_.name) === Seq("pre-migration"))
    assert(Snapshots.verify(spark, s"$snapRoot/pre-migration"))
    // immutable artifacts: same-name create refuses
    intercept[IllegalArgumentException](
      Snapshots.create(spark, idxRoot, snapRoot, "pre-migration"))

    // restore into a FRESH collection: full round trip, content equal
    val restoredRoot = tmp("graft-snap-rest-") + "/col"
    val gen = Snapshots.restore(spark, s"$snapRoot/pre-migration", restoredRoot)
    assert(gen === 0L)
    val orig = VectorIndex.load(spark, idxRoot).points
    val rest = VectorIndex.load(spark, restoredRoot).points
    assert(rest.count() === 200L)
    assert(orig.exceptAll(rest).isEmpty && rest.exceptAll(orig).isEmpty)
    // the bucketed PARTITION layout survives the round trip (tenant
    // pruning would silently die on a column-only restore)
    val restoredGen = new java.io.File(
      s"$restoredRoot/${Generations.dir(0)}")
    assert(restoredGen.listFiles().exists(_.getName.startsWith("bucket=")),
      "restored generation lost the bucket partition layout")
    assert(ShardTransfer.plan(spark, restoredRoot).collect()
      .map(_.getLong(1)).sum === 200L, "restored collection must be shard-addressable")

    // restore into the LIVE collection = rollback import: next gen, prior intact
    val gen2 = Snapshots.restore(spark, s"$snapRoot/pre-migration", idxRoot)
    assert(gen2 === 1L)
    assert(VectorIndex.generations(spark, idxRoot) === Seq(0L, 1L))
  }

  test("snapshot: a corrupted snapshot is refused before any generation commits") {
    val idxRoot = tmp("graft-snapc-idx-") + "/col"
    val snapRoot = tmp("graft-snapc-root-")
    mkIndex(0 until 50).save(s"$idxRoot/${Generations.dir(0)}")
    Snapshots.create(spark, idxRoot, snapRoot, "s1")
    // corrupt: drop one data file from the shipped snapshot
    val dataDir = new java.io.File(s"$snapRoot/s1/data")
    dataDir.listFiles().filter(_.getName.endsWith(".parquet")).take(1)
      .foreach(f => assert(f.delete()))
    assert(!Snapshots.verify(spark, s"$snapRoot/s1"))
    val target = tmp("graft-snapc-t-") + "/col"
    intercept[IllegalArgumentException](
      Snapshots.restore(spark, s"$snapRoot/s1", target))
    assert(VectorIndex.generations(spark, target) === Seq.empty)
  }

  test("shard transfer: buckets move wholesale, both sides stay served, totals conserved") {
    val a = tmp("graft-st-a-") + "/colA"
    val b = tmp("graft-st-b-") + "/colB"
    mkIndex(0 until 300).save(s"$a/${Generations.dir(0)}")

    val planned = ShardTransfer.plan(spark, a).collect()
    assert(planned.map(_.getLong(1)).sum === 300L)
    val moveBuckets = planned.take(3).map(_.getInt(0)).toSeq
    val nMoved = planned.take(3).map(_.getLong(1)).sum

    val manifest = ShardTransfer.run(spark, a, b, moveBuckets).collect()
    assert(manifest.map(_.getInt(0)).toSeq.sorted === moveBuckets.sorted)
    val nA = VectorIndex.load(spark, a).points.count()
    val nB = VectorIndex.load(spark, b).points.count()
    assert(nB === nMoved)
    assert(nA + nB === 300L, "points must be conserved across the move")
    // no duplicates: the union of both sides is the original id set
    val ids = VectorIndex.load(spark, a).points.select("id")
      .unionByName(VectorIndex.load(spark, b).points.select("id"))
    assert(ids.distinct().count() === 300L && ids.count() === 300L)

    // completed-transfer re-run is a no-op (idempotent recovery)
    ShardTransfer.run(spark, a, b, moveBuckets)
    assert(VectorIndex.load(spark, a).points.count() === nA)
    assert(VectorIndex.load(spark, b).points.count() === nB)
  }

  test("shard transfer: crash between copy and prune leaves data available, re-run converges") {
    val a = tmp("graft-st2-a-") + "/colA"
    val b = tmp("graft-st2-b-") + "/colB"
    mkIndex(0 until 200).save(s"$a/${Generations.dir(0)}")
    val moveBuckets = ShardTransfer.plan(spark, a).collect()
      .take(2).map(_.getInt(0)).toSeq

    // crash window: copy committed, prune never ran
    assert(ShardTransfer.copyToTarget(spark, a, b, moveBuckets))
    val nA = VectorIndex.load(spark, a).points.count()
    val nB = VectorIndex.load(spark, b).points.count()
    assert(nA === 200L, "source untouched until prune — reads never break")
    assert(nB > 0L, "target already serves the copied shard")

    // recovery: the SAME transfer re-run converges to the final state
    ShardTransfer.run(spark, a, b, moveBuckets)
    assert(VectorIndex.load(spark, a).points.count() + nB === 200L)
    val ids = VectorIndex.load(spark, a).points.select("id")
      .unionByName(VectorIndex.load(spark, b).points.select("id"))
    assert(ids.distinct().count() === 200L && ids.count() === 200L)
  }

  test("shard balancer: plan is deterministic metadata, apply converges loads within tolerance") {
    import graft.api.ShardBalancer
    val n0 = tmp("graft-sb-0-") + "/n0"
    val n1 = tmp("graft-sb-1-") + "/n1"
    val n2 = tmp("graft-sb-2-") + "/n2"
    // one sharded collection: node 0 owns (almost) everything, node 1 a
    // sliver, node 2 empty — the post-node-add rebalance scenario.
    // Disjoint ownership by construction: split one saved collection.
    val all = tmp("graft-sb-all-") + "/all"
    mkIndex(0 until 400).save(s"$all/${Generations.dir(0)}")
    val buckets = ShardTransfer.plan(spark, all).collect().map(_.getInt(0)).toSeq
    val (slice1, rest) = (buckets.take(1), buckets.drop(1))
    // materialize the split via transfers out of the staging root
    ShardTransfer.run(spark, all, n1, slice1)
    ShardTransfer.run(spark, all, n0, rest)
    // n2 is a brand-new empty node: no data yet, just a valid target

    val p = ShardBalancer.plan(spark, Seq(n0, n1, n2), tolerance = 0.25)
    assert(p.moves.nonEmpty, "skewed cluster must produce moves")
    // plan-level invariants: projected max within tolerance of mean,
    // and a re-plan over unchanged data is identical (deterministic)
    val mean = p.loadsBefore.values.sum.toDouble / 3
    assert(p.loadsAfter.values.max <= mean * 1.25 + 1e-9,
      s"projected loads ${p.loadsAfter} exceed tolerance around mean $mean")
    assert(ShardBalancer.plan(spark, Seq(n0, n1, n2), tolerance = 0.25)
      .moves === p.moves)

    ShardBalancer.apply(spark, p)
    val after = Seq(n0, n1, n2)
      .map(r => VectorIndex.load(spark, r).points.count())
    assert(after.sum === 400L, "rebalance must conserve points")
    assert(after.max <= mean * 1.25 + 1e-9,
      s"executed loads $after exceed tolerance")
    // still one collection: ids globally unique across nodes
    val ids = Seq(n0, n1, n2).map(r => VectorIndex.load(spark, r).points.select("id"))
      .reduce(_ unionByName _)
    assert(ids.count() === 400L && ids.distinct().count() === 400L)
  }

  test("shard balancer: chained moves execute in plan order, not path order") {
    import graft.api.ShardBalancer
    // path names chosen so PAIR-SORTED execution would run the second
    // leg first (b.. < m.. < z..) — the regression the plan-order fix pins
    val a = tmp("graft-sbo-z-") + "/za"
    val b = tmp("graft-sbo-a-") + "/ab"
    val c = tmp("graft-sbo-m-") + "/mc"
    mkIndex(0 until 60).save(s"$a/${Generations.dir(0)}")
    val bucket = ShardTransfer.plan(spark, a).collect().head.getInt(0)
    val n = ShardTransfer.plan(spark, a).collect().head.getLong(1)
    val plan = ShardBalancer.Plan(
      Seq(ShardBalancer.Move(bucket, a, b, n),   // leg 1: a -> b
        ShardBalancer.Move(bucket, b, c, n)),    // leg 2: b -> c (chained)
      Map.empty, Map.empty)
    ShardBalancer.apply(spark, plan)
    // the bucket must land at its FINAL home, not strand mid-chain
    assert(ShardTransfer.plan(spark, c).collect()
      .exists(r => r.getInt(0) == bucket && r.getLong(1) == n),
      "chained move did not deliver to the final node")
    assert(!ShardTransfer.plan(spark, b).collect().exists(_.getInt(0) == bucket),
      "bucket stranded at the intermediate node")
  }

  test("shard balancer: refuses overlapping ownership instead of planning a refused transfer") {
    import graft.api.ShardBalancer
    val a = tmp("graft-sbc-a-") + "/a"
    val b = tmp("graft-sbc-b-") + "/b"
    // two independent collections (NOT a sharded one): same buckets,
    // different points — balancing across them would corrupt both
    mkIndex(0 until 100).save(s"$a/${Generations.dir(0)}")
    mkIndex(200 until 400).save(s"$b/${Generations.dir(0)}")
    intercept[IllegalArgumentException](ShardBalancer.plan(spark, Seq(a, b)))
  }

  test("collection info reports live-generation counts, layout, and the generation axis") {
    val root = tmp("graft-info-") + "/col"
    mkIndex(0 until 120).save(s"$root/${Generations.dir(0)}")
    mkIndex(0 until 80).save(s"$root/${Generations.dir(1)}")
    val info = VectorIndex.info(spark, root)
    assert(info.points === 80L, "info must describe the LIVE generation only")
    assert(info.tenants === 5L && info.dim === 4)
    assert(info.buckets > 0 && info.liveBytes > 0L)
    assert(info.generations === Seq(0L, 1L) && info.liveGeneration === Some(1L))
  }

  test("restore: a torn generation above live does not capture the next slot") {
    // SnapshotGc's torn-retention deliberately keeps a recent
    // uncommitted gen-N around (a possibly in-flight writer). A
    // committed-only slot allocation would hand restore that same N —
    // and fs.rename onto an existing dir nests the verified data
    // INSIDE the torn dir, silently losing it. The fix allocates past
    // ALL gen names.
    val idxRoot = tmp("graft-torn-idx-") + "/col"
    val snapRoot = tmp("graft-torn-snap-")
    mkIndex(0 until 60).save(s"$idxRoot/${Generations.dir(0)}")
    Snapshots.create(spark, idxRoot, snapRoot, "s1")
    // a torn in-flight generation above live: dir exists, no _SUCCESS
    val torn = new java.io.File(s"$idxRoot/${Generations.dir(1)}")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-inflight.parquet"), "racing writer")

    val gen = Snapshots.restore(spark, s"$snapRoot/s1", idxRoot)
    assert(gen === 2L, s"restore must skip the torn gen-1 slot, got $gen")
    assert(VectorIndex.generations(spark, idxRoot) === Seq(0L, 2L))
    assert(VectorIndex.load(spark, idxRoot).points.count() === 60L)
    // the torn dir is untouched: still uncommitted, nothing nested into it
    assert(torn.listFiles().map(_.getName).toSet === Set("part-inflight.parquet"),
      "restore must not write into a possibly in-flight generation")
  }

  test("shard transfer: commit skips a torn generation instead of clobbering it") {
    val a = tmp("graft-tornst-a-") + "/colA"
    val b = tmp("graft-tornst-b-") + "/colB"
    mkIndex(0 until 80).save(s"$a/${Generations.dir(0)}")
    // the target has a torn in-flight gen-3 (e.g. a racing writer)
    val torn = new java.io.File(s"$b/${Generations.dir(3)}")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-inflight.parquet"), "racing writer")
    val moveBuckets = ShardTransfer.plan(spark, a).collect()
      .take(2).map(_.getInt(0)).toSeq
    assert(ShardTransfer.copyToTarget(spark, a, b, moveBuckets))
    // the copy committed PAST the torn slot, leaving it intact
    assert(VectorIndex.generations(spark, b) === Seq(4L))
    assert(torn.listFiles().map(_.getName).toSet === Set("part-inflight.parquet"),
      "transfer must not write into a possibly in-flight generation")
  }

  test("shard transfer: a conflicting target bucket is refused, not merged") {
    val a = tmp("graft-st3-a-") + "/colA"
    val b = tmp("graft-st3-b-") + "/colB"
    mkIndex(0 until 100).save(s"$a/${Generations.dir(0)}")
    // the target independently owns points landing in the same buckets
    mkIndex(500 until 600).save(s"$b/${Generations.dir(0)}")
    val moveBuckets = ShardTransfer.plan(spark, a).collect()
      .take(1).map(_.getInt(0)).toSeq
    intercept[IllegalArgumentException](
      ShardTransfer.copyToTarget(spark, a, b, moveBuckets))
  }
}
