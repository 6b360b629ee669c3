package graft.api

import org.apache.spark.sql.SparkSession

/** COLLECTION ALIASES — the Qdrant alias surface (create_alias /
  * switch in one request): a stable name a client queries while the
  * collection BEHIND it is rebuilt and atomically re-pointed — the
  * blue/green reindex flow (build `points_v2`, validate, re-point
  * `prod` at it, drop `points_v1`; readers never see a half-swapped
  * state and never change their own config).
  *
  * Registry layout: one directory per alias under the registry root,
  * each holding numbered `gen-N` target files maintained with the SAME
  * committed-generation rotation [[VectorIndex]] snapshots use
  * ([[Generations]]: the live pointer is the newest committed
  * generation). A crash mid-re-point leaves an ignored uncommitted
  * generation; `resolve` never returns a torn value. The pointer is a
  * one-row parquet — bytes are irrelevant, the commit protocol is the
  * point.
  */
object Aliases {

  private def aliasRoot(registry: String, alias: String): String = {
    require(alias.nonEmpty && alias.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"alias must be [A-Za-z0-9_-]+: '$alias'")
    s"$registry/$alias"
  }

  /** Create or atomically re-point an alias at a target path. */
  def set(spark: SparkSession, registry: String, alias: String,
          target: String): Unit = {
    import spark.implicits._
    Generations.commitNext(spark, aliasRoot(registry, alias))(
      Seq(target).toDF("target").coalesce(1).write.mode("errorifexists").parquet(_))
  }

  /** The alias' current target, or None if it was never set. */
  def resolve(spark: SparkSession, registry: String,
              alias: String): Option[String] = {
    Generations.live(spark, aliasRoot(registry, alias))
      .map(g => spark.read.parquet(g.path).head().getString(0))
  }

  /** The alias' full RE-POINT HISTORY, oldest first — every committed
    * generation's target (the audit trail of blue/green swaps; what
    * [[SnapshotGc]] has reclaimed no longer appears). Pairs with
    * [[VectorIndex.loadAt]]: resolve where an alias pointed N swaps
    * ago, then open THAT index generation for a rollback check.
    */
  def history(spark: SparkSession, registry: String,
              alias: String): Seq[(Long, String)] = {
    val root = aliasRoot(registry, alias)
    VectorIndex.generations(spark, root).map { g =>
      g -> spark.read
        .parquet(VectorIndex.resolveSnapshotAt(spark, root, g))
        .head().getString(0)
    }
  }

  /** Every alias in the registry with its current target. */
  def list(spark: SparkSession, registry: String): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(registry)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(a => resolve(spark, registry, a).map(a -> _))
      .toMap
  }

  /** Open the [[VectorIndex]] an alias currently points at — what a
    * serving client calls; the blue/green swap happens under it.
    */
  def openIndex(spark: SparkSession, registry: String, alias: String,
                embedder: Embedder = FeatureHashEmbedder): VectorIndex = {
    val target = resolve(spark, registry, alias)
      .getOrElse(throw new IllegalArgumentException(s"unknown alias '$alias'"))
    VectorIndex.load(spark, target, embedder)
  }
}
