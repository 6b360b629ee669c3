package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The `gen-N` LAYOUT every rotated artifact publishes through: a
  * mutation never rewrites a root in place, it lands the next immutable
  * `gen-N` directory under it. This object owns that layout once — the
  * name, the listing, the live generation, a generation's commit check,
  * slot allocation and the committing write — for every kind
  * ([[VectorIndex]] rotation, [[Aliases]] pointers, [[PayloadIndex]]
  * zone manifests, [[GraphIndex]], [[HybridIndex]], [[MultiVecIndex]]);
  * [[SnapshotGc]] reclaims over the same listing.
  *
  * A generation is COMMITTED when every relation its kind declares has
  * left its parquet job's `_SUCCESS` (one small atomic create, on HDFS
  * and object stores alike). A kind declares only its relation names;
  * `Nil` means the generation directory is itself the one relation. A
  * crash mid-write leaves an uncommitted generation that no reader
  * serves, so readers never observe a missing or half-rotated state.
  */
object Generations {

  private val Prefix = "gen-"

  /** One `gen-N` directory: its id, name, filesystem-qualified path (as
    * the root's listing spells it) and whether it is committed.
    */
  final case class Generation(id: Long, name: String, path: String,
                              committed: Boolean)

  /** The directory name of generation `id` — zero-padded so
    * lexicographic order ≡ numeric order.
    */
  def dir(id: Long): String = f"$Prefix$id%012d"

  /** Every generation under `root`, committed or not, id-ascending:
    * one directory listing plus the commit probes per generation.
    */
  def list(spark: SparkSession, root: String,
           relations: Seq[String] = Nil): Seq[Generation] = {
    val fs = fsOf(spark, root)
    slots(fs, root).map { case (id, p) =>
      Generation(id, p.getName, p.toString, committed(fs, p, relations)) }
  }

  /** The LIVE generation: the newest committed one. Probes newest
    * first and stops at the first commit.
    */
  def live(spark: SparkSession, root: String,
           relations: Seq[String] = Nil): Option[Generation] = {
    val fs = fsOf(spark, root)
    slots(fs, root).reverseIterator
      .find { case (_, p) => committed(fs, p, relations) }
      .map { case (id, p) => Generation(id, p.getName, p.toString, committed = true) }
  }

  /** The live generation's path; fails when `root` holds none — what
    * each kind's `openLive` reads through. `kind` names the artifact in
    * the error.
    */
  def requireLive(spark: SparkSession, root: String, relations: Seq[String],
                  kind: String): String =
    live(spark, root, relations).map(_.path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed $kind generation under $root"))

  /** True iff `gen-<id>` under `root` is committed. A streaming replay
    * skips on THIS test, never on a compare against the live
    * generation's name: a fresh checkpoint restarts batch ids at 0
    * while live may be gen-1, and a live-name compare would overwrite
    * committed gen-0 with a merge that duplicates the batch, then skip
    * the next batch (batchId == the live gen) and drop its data.
    */
  def isCommitted(spark: SparkSession, root: String, id: Long,
                  relations: Seq[String] = Nil): Boolean =
    committed(fsOf(spark, root), new Path(root, dir(id)), relations)

  /** Allocate the next free slot, run `write` into it (the caller's
    * write must leave the slot committed), and drop every session memo
    * derived from data under `root`. Returns the new generation's id.
    *
    * The slot is allocated over ALL `gen-N` names, committed or not: a
    * committed-only maximum would hand out a slot a torn or in-flight
    * generation still occupies (what [[SnapshotGc]]'s torn retention
    * keeps around). On HDFS `rename(tmp, dest)` onto an existing dest
    * moves tmp INSIDE it and reports success, and an overwrite would
    * clobber a racing writer's in-flight generation.
    *
    * Invalidation covers `root` only, so a memo fill must never commit
    * under its own memo's dataset directory: the drop would evict the
    * value the fill is building.
    */
  def commitNext(spark: SparkSession, root: String)(write: String => Unit): Long = {
    val id = slots(fsOf(spark, root), root).lastOption.fold(0L)(_._1 + 1)
    write(s"$root/${dir(id)}")
    graft.operators.SessionMemo.invalidatePath(root)
    id
  }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def slots(fs: FileSystem, root: String): Seq[(Long, Path)] =
    (try fs.listStatus(new Path(root)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(Prefix))
      .flatMap(st => st.getPath.getName.stripPrefix(Prefix).toLongOption
        .map(_ -> st.getPath))
      .sortBy(_._1)

  private def committed(fs: FileSystem, gen: Path, relations: Seq[String]): Boolean =
    if (relations.isEmpty) fs.exists(new Path(gen, "_SUCCESS"))
    else relations.forall(r => fs.exists(new Path(gen, s"$r/_SUCCESS")))
}
