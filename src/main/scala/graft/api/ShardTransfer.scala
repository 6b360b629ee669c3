package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHARD TRANSFER — the batch analogue of Qdrant's shard-movement API
  * (cluster rebalancing: move shard N from node A to node B without
  * interrupting reads). A "shard" here is what [[VectorIndex.save]]
  * already made it: one tenant-hash `bucket=K` partition of a saved
  * collection. A transfer re-homes a set of buckets from one
  * collection root to another with the same guarantees the online
  * version gives:
  *
  *  - **Reads never break.** Both sides advance by COMMITTED
  *    generations (the rotation discipline): the target commits a
  *    generation containing its own points PLUS the moved buckets
  *    FIRST; only then does the source commit a generation without
  *    them. A crash between the two commits leaves the moved buckets
  *    present on BOTH sides — duplicated-but-available (exactly
  *    Qdrant's transfer semantics: the shard is removed from the
  *    sender only after the receiver acknowledges).
  *  - **Idempotent recovery.** Re-running the same transfer after any
  *    crash converges: the copy step is a no-op when the target
  *    already holds the buckets, and the prune step re-commits the
  *    source without them.
  *  - **Scale shape.** The moved data is read ONCE with bucket-
  *    partition pruning (only `bucket=K` directories scan); the
  *    target's own points are read once; each side writes one new
  *    bucketed generation. No shuffle beyond the bucketed write's
  *    own partitioning — at 100 TB the cost is proportional to the
  *    data that moves plus the rewritten roots, never a join.
  *
  * Composition: old generations are reclaimed by [[SnapshotGc]];
  * serving clients follow [[Aliases]] and never observe the move.
  */
object ShardTransfer {

  /** Per-bucket manifest of a saved collection: points + content
    * fingerprint — what the operator reads before choosing which
    * shards to move ([[graft.operators.Relational.keysPartitionPlan]]'s
    * sibling for the vector store).
    */
  def plan(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_points"),
        coalesce(bit_xor(xxhash64(VectorIndex.schema.map(col): _*)), lit(0L))
          .as("content_hash"))
      .orderBy("bucket")

  /** Step 1 — COPY: commit a target generation = target's points +
    * the moved buckets. No-op (returns false) if the target already
    * holds every moved bucket with matching content (the idempotent
    * re-run after a crash-after-copy).
    */
  def copyToTarget(spark: SparkSession, sourcePath: String, targetPath: String,
                   buckets: Seq[Int]): Boolean = {
    require(buckets.nonEmpty, "no buckets to transfer")
    val moved = read(spark, sourcePath)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    val movedFp = fingerprint(moved)
    if (movedFp._1 == 0L) return false // source holds nothing to copy
    val targetHas = fingerprintOf(spark, targetPath, buckets)
    if (targetHas == movedFp) return false // crash-after-copy re-run
    // shard ownership is EXCLUSIVE (a shard lives on one node): a
    // target with DIFFERENT points in a moved bucket is a conflict,
    // not a merge — refusing beats silently duplicating
    require(targetHas._1 == 0L,
      s"target $targetPath already holds points in buckets $buckets " +
        "that do not match the source — refusing to merge shards")
    val combined = read(spark, targetPath).unionByName(moved)
    commitGeneration(spark, targetPath, combined)
    true
  }

  /** Step 2 — PRUNE: commit a source generation without the moved
    * buckets. Only safe after [[copyToTarget]] committed (which is why
    * [[run]] orders them); re-running is harmless.
    */
  def pruneSource(spark: SparkSession, sourcePath: String,
                  buckets: Seq[Int]): Unit = {
    val kept = read(spark, sourcePath)
      .filter(!col("bucket").isin(buckets.map(Integer.valueOf): _*))
    commitGeneration(spark, sourcePath, kept)
  }

  /** The whole transfer: copy, verify the landed buckets against the
    * source fingerprint, then prune. Returns the per-bucket manifest
    * of what moved.
    */
  def run(spark: SparkSession, sourcePath: String, targetPath: String,
          buckets: Seq[Int]): DataFrame = {
    val manifest = plan(spark, sourcePath)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      .localCheckpoint() // pin BEFORE the source prunes under it
    val sourceFp = fingerprintOf(spark, sourcePath, buckets)
    if (sourceFp._1 == 0L) return manifest // completed-transfer re-run
    copyToTarget(spark, sourcePath, targetPath, buckets)
    val landed = fingerprintOf(spark, targetPath, buckets)
    require(landed == sourceFp,
      s"transfer verification failed: target buckets $landed != source $sourceFp")
    pruneSource(spark, sourcePath, buckets)
    manifest
  }

  /** Read a collection's LIVE generation with the bucket partition
    * column retained (the transfer axis [[VectorIndex.load]] drops).
    */
  private[api] def read(spark: SparkSession, path: String): DataFrame = {
    val live = VectorIndex.resolveSnapshot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(live)))
      return emptyPoints(spark)
    // a generation pruned down to zero rows is a bare _SUCCESS dir —
    // schema inference fails, but it's a valid (empty) shard set
    val df = try spark.read.parquet(live)
      catch { case _: org.apache.spark.sql.AnalysisException => return emptyPoints(spark) }
    if (df.columns.contains("bucket")) df.select(allCols: _*)
    else emptyPoints(spark) // un-bucketed roots hold no shards to move
  }

  private def allCols = (VectorIndex.schema :+ "bucket").map(col)

  private def emptyPoints(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, vector ARRAY<DOUBLE>, text STRING, user_id BIGINT, " +
          "site STRING, lang STRING, seq BIGINT, bucket INT"))

  private[api] def fingerprint(points: DataFrame): (Long, Long) = {
    val r = points
      .agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(VectorIndex.schema.map(col): _*)), lit(0L)).as("x"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private[api] def fingerprintOf(spark: SparkSession, path: String,
                            buckets: Seq[Int]): (Long, Long) =
    fingerprint(read(spark, path)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*)))

  /** Land `points` as the next committed generation under `path`,
    * bucketed exactly as [[VectorIndex.save]] lays data out.
    */
  private[api] def commitGeneration(spark: SparkSession, path: String,
                               points: DataFrame): Unit =
    // the slot is fresh (allocated over every gen-N name), so the
    // default errorifexists mode turns any remaining race into a loud
    // failure instead of a silent clobber of an in-flight generation
    Generations.commitNext(spark, path)(
      points.repartition(col("bucket")).write.partitionBy("bucket").parquet(_))
}
