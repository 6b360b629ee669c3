package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COLLECTION SNAPSHOTS — the batch analogue of Qdrant's snapshot API
  * (create/list/recover: the export a deployment takes before a risky
  * migration and ships across clusters;
  * /root/reference/README.md's managed service exposes it as
  * `POST /collections/{name}/snapshots` + recover-from-URL). A
  * snapshot here is a SELF-CONTAINED directory: the live generation's
  * points re-written by a Spark job plus a `manifest.json` carrying a
  * DISTRIBUTED CONTENT CHECKSUM.
  *
  * Why row-level checksums, not file bytes: a Spark rewrite is free to
  * change file count, row order, and encoding (task parallelism,
  * compression), so byte-equality is the wrong integrity contract at
  * scale. The manifest instead records order-independent aggregates of
  * per-row `xxhash64` over every schema column — (count, bit_xor,
  * decimal sum) — computed BY THE CLUSTER in one map pass + one tiny
  * aggregate; equal aggregates ⇔ equal multisets of rows (up to hash
  * collision, with three independent 64-bit-class aggregates stacked).
  *
  * `restore` is VERIFY-THEN-COMMIT: data lands in a temp directory,
  * the checksum recomputes over what was actually written, and only a
  * verified restore is renamed into the target's next `gen-N` slot
  * (one FS rename, atomic where the FS gives atomicity — same
  * single-marker commit discipline as the rotation itself). A torn or
  * corrupted snapshot can never become a committed generation.
  */
object Snapshots {

  case class Manifest(name: String, sourcePath: String, nRows: Long,
                      xorHash: Long, sumHash: java.math.BigDecimal,
                      schemaDdl: String)

  /** The distributed content fingerprint: one map pass (xxhash64 over
    * all columns per row), one scalar aggregate. Order- and
    * layout-independent by construction.
    */
  def fingerprint(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(bit_xor(col("h")), lit(0L)).as("x"),
        coalesce(sum(col("h").cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
          .as("s"))
      .head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  /** Export the LIVE generation of `indexPath` as self-contained
    * snapshot `snapRoot/name`. Refuses to overwrite an existing
    * snapshot of the same name (snapshots are immutable artifacts).
    */
  def create(spark: SparkSession, indexPath: String, snapRoot: String,
             name: String): Manifest = {
    val dest = new Path(s"$snapRoot/$name")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(dest), s"snapshot '$name' already exists at $dest")
    val src = VectorIndex.resolveSnapshot(spark, indexPath)
    val points = spark.read.parquet(src)
    points.write.parquet(s"$dest/data")
    // fingerprint what was WRITTEN, not the source frame: the manifest
    // must vouch for the artifact itself
    val (n, x, s) = fingerprint(spark.read.parquet(s"$dest/data"))
    val m = Manifest(name, src, n, x, s, points.schema.toDDL)
    writeManifest(spark, dest, m)
    m
  }

  /** All snapshots under a root, name-ascending. */
  def list(spark: SparkSession, snapRoot: String): Seq[Manifest] = {
    val root = new Path(snapRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new Path(p, "manifest.json")))
      .sortBy(_.getName)
      .map(p => readManifest(spark, p))
  }

  /** Recompute the content fingerprint against the manifest — the
    * integrity check a recovery target runs before trusting a shipped
    * snapshot (and the one `restore` runs for you).
    */
  def verify(spark: SparkSession, snapDir: String): Boolean = {
    val m = readManifest(spark, new Path(snapDir))
    val (n, x, s) = fingerprint(spark.read.parquet(s"$snapDir/data"))
    n == m.nRows && x == m.xorHash && s.compareTo(m.sumHash) == 0
  }

  /** Recover a snapshot INTO a collection root as its next committed
    * generation (verify-then-commit — see object doc). Returns the new
    * generation id. The prior live generation is untouched: a rollback
    * is one [[SnapshotGc]]-respecting generation older.
    */
  def restore(spark: SparkSession, snapDir: String, indexPath: String): Long = {
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(verify(spark, snapDir),
      s"snapshot at $snapDir fails its manifest fingerprint — refusing to restore")
    val tmp = new Path(root, s"__restore-tmp-${System.nanoTime()}")
    val data = spark.read.parquet(s"$snapDir/data")
    // a bucketed collection's snapshot carries `bucket` as a data
    // column; restore must re-establish the PARTITION layout (the
    // tenant-pruning contract every bucket-filtered read relies on) —
    // a plain write would leave this generation unprunable
    if (data.columns.contains("bucket"))
      data.repartition(col("bucket")).write.partitionBy("bucket")
        .parquet(tmp.toString)
    else data.write.parquet(tmp.toString)
    // re-verify the LANDED copy (the write itself could tear), then
    // commit by renaming into the next generation slot
    val m = readManifest(spark, new Path(snapDir))
    val (n, x, s) = fingerprint(spark.read.parquet(tmp.toString))
    if (!(n == m.nRows && x == m.xorHash && s.compareTo(m.sumHash) == 0)) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"restored data at $tmp does not match the snapshot manifest")
    }
    // an HDFS rename onto an existing dir "succeeds" by nesting tmp
    // inside it — the verified restore would vanish into an unserved dir
    Generations.commitNext(spark, indexPath) { slot =>
      val dest = new Path(slot)
      require(!fs.exists(dest),
        s"generation slot $dest appeared during restore — racing writer; re-run")
      require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
    }
  }

  private def writeManifest(spark: SparkSession, dir: Path, m: Manifest): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    CommitProtocol.writeSmallFile(dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(dir, "manifest.json"),
      s"""{"name":${q(m.name)},"source_path":${q(m.sourcePath)},"n_rows":${m.nRows},"xor_hash":${m.xorHash},"sum_hash":"${m.sumHash}","schema_ddl":${q(m.schemaDdl)}}""")
  }

  private def readManifest(spark: SparkSession, dir: Path): Manifest = {
    import spark.implicits._
    val text = CommitProtocol.readSmallFile(
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
        new Path(dir, "manifest.json"))
      .getOrElse(throw new java.io.FileNotFoundException(s"no snapshot manifest in $dir"))
    val row = spark.read
      .schema("name STRING, source_path STRING, n_rows LONG, xor_hash LONG, " +
        "sum_hash STRING, schema_ddl STRING")
      .json(Seq(text).toDS())
      .head()
    Manifest(row.getString(0), row.getString(1), row.getLong(2), row.getLong(3),
      new java.math.BigDecimal(row.getString(4)), row.getString(5))
  }
}
