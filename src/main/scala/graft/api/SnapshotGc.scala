package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** SNAPSHOT GARBAGE COLLECTION for the committed-generation rotation
  * every mutable artifact here publishes through ([[Generations]]:
  * [[VectorIndex]] rotation and shard transfers, [[Aliases]] pointers,
  * [[PayloadIndex]] zone manifests, and the streamed [[GraphIndex]],
  * [[HybridIndex]] and [[MultiVecIndex]] roots): each write lands a
  * new immutable `gen-N` directory, so storage grows per mutation
  * until something reclaims it — this is that something, with the
  * retention rules a lakehouse actually needs:
  *
  *  - the LIVE generation (newest committed — what readers resolve)
  *    is never touched;
  *  - the `keepHistory` committed generations before it are kept as
  *    rollback targets;
  *  - older committed generations are deleted;
  *  - UNCOMMITTED (torn) generations are deleted only when a NEWER
  *    committed generation exists (a crashed write, superseded) AND
  *    the directory is older than `tornRetentionMs` — with two
  *    concurrent writers, the one that allocated its generation number
  *    first can still be mid-write when the other commits, so age (not
  *    supersession alone) is what distinguishes "crashed" from
  *    "in-flight but racing" (Delta VACUUM's retention rule);
  *    an uncommitted generation newer than the live one may be an
  *    in-flight write and is kept regardless of age.
  *
  * "Committed" is the kind's own rule: pass its `relations` (every one
  * must have left its `_SUCCESS`; `Nil` = the generation directory
  * itself), so a graph, hybrid or multivector root reclaims like any
  * other.
  *
  * `plan` is pure metadata (one directory listing — no data read);
  * `run` executes exactly the plan it returns. Deleting a committed
  * generation is safe against concurrent readers that resolved BEFORE
  * the delete only outside the retention window — which is what
  * `keepHistory` is for: size it to the longest query lifetime, the
  * same contract as Delta/Iceberg `VACUUM` retention.
  */
object SnapshotGc {

  /** One generation's disposition. `action` ∈ keep-live | keep-history |
    * keep-inflight | delete | delete-torn.
    */
  case class GcEntry(generation: String, committed: Boolean, action: String)

  /** Default torn-write retention: a superseded uncommitted generation
    * younger than this is classified `keep-inflight`, not
    * `delete-torn` — long enough that any plausible in-flight write has
    * either committed or crashed by the time GC reaps it.
    */
  val DefaultTornRetentionMs: Long = 24L * 3600 * 1000

  def plan(spark: SparkSession, path: String, keepHistory: Int = 2,
           tornRetentionMs: Long = DefaultTornRetentionMs,
           relations: Seq[String] = Nil): Seq[GcEntry] = {
    require(keepHistory >= 0, s"keepHistory must be >= 0, got $keepHistory")
    require(tornRetentionMs >= 0,
      s"tornRetentionMs must be >= 0, got $tornRetentionMs")
    val gens = Generations.list(spark, path, relations)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def oldEnough(g: Generations.Generation): Boolean =
      try now - fs.getFileStatus(new Path(g.path)).getModificationTime >=
        tornRetentionMs
      catch { case _: java.io.FileNotFoundException => false } // racing delete
    val committed = gens.filter(_.committed).map(_.id)
    val liveId = committed.lastOption
    val history = committed.dropRight(1).takeRight(keepHistory).toSet
    gens.map { g =>
      val action =
        if (g.committed && liveId.contains(g.id)) "keep-live"
        else if (g.committed && history(g.id)) "keep-history"
        else if (g.committed) "delete"
        else if (liveId.exists(g.id < _) && oldEnough(g)) "delete-torn"
        else "keep-inflight"
      GcEntry(g.name, g.committed, action)
    }
  }

  /** Execute the plan: delete every `delete`/`delete-torn` generation.
    * Returns the plan that was executed.
    */
  def run(spark: SparkSession, path: String, keepHistory: Int = 2,
          tornRetentionMs: Long = DefaultTornRetentionMs,
          relations: Seq[String] = Nil): Seq[GcEntry] = {
    val entries = plan(spark, path, keepHistory, tornRetentionMs, relations)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.filter(e => e.action == "delete" || e.action == "delete-torn")
      .foreach(e => fs.delete(new Path(root, e.generation), true))
    entries
  }
}
