package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** Loaders for the driver-generated testdata tables, plus the derived
  * multi-tenant "points" corpus that mirrors the reference's Qdrant
  * collection (see /root/reference/insert.py:35-42 — payload carries
  * text_id, text, user_id, site, lang alongside the vector).
  *
  * The derivation (user_id = doc_id % 20, site = source, seq = doc_id)
  * is deterministic and repeated verbatim in the DuckDB oracle SQL so
  * both engines see the same corpus.
  */
object Tables {
  // per live session: table path → the table's files as (path, length,
  // mtime), and the schema inferred from them. Weakly keyed, and the
  // values hold no session, so a dropped session's entries go with it.
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, (Seq[(String, Long, Long)], StructType)]]())

  /** One table of the dataset at `dir`. `spark.read.parquet` runs a
    * schema-inference job on every call; the schema is inferred once
    * per session and per file set instead (a table rewritten in place
    * lists another path, length or mtime and is inferred again), and
    * each call reads the table with it, under fresh attribute ids.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    filesOf(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some(files) =>
        val known = schemas.computeIfAbsent(spark, _ => TrieMap.empty)
        val schema = known.get(path).collect { case (`files`, s) => s }.getOrElse {
          val s = spark.read.parquet(path).schema
          known.put(path, (files, s))
          s
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  private def filesOf(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** events.parquet's ts arrives in whatever physical form the driver's
    * generator used that round; normalize every variant to the SAME
    * session TIMESTAMP whose UTC wall clock equals the file's naive
    * value — exactly what DuckDB sees reading the same file — so both
    * engines compute identical epoch micros:
    *  - TIMESTAMP(NANOS): Spark's reader rejects it; with
    *    spark.sql.legacy.parquet.nanosAsLong=true it arrives as a long
    *    we floor-divide to micros (integer div — double div loses ulps
    *    at 1e18), matching DuckDB's ns → µs truncation.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *    TIMESTAMP_NTZ, which unix_micros/numeric casts reject. Convert
    *    via timestampdiff-from-epoch — pure DATETIME ARITHMETIC on the
    *    naive value, so the result is identical in every session
    *    timezone (an NTZ→LTZ cast would shift by the session zone).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", timestamp_micros(
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** The Qdrant-collection analogue: one row per point. Vectors are cast
    * to double up front so all distance math matches the DuckDB oracle's
    * DOUBLE[] precision bit-for-bit.
    */
  def points(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(
        col("doc_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vector"),
        col("text"),
        (col("doc_id") % 20).as("user_id"),
        col("source").as("site"),
        col("lang"),
        col("doc_id").as("seq"))

  /** Oracle-side twin of [[points]] (DuckDB SQL fragment). */
  val pointsSql: String =
    """SELECT d.doc_id AS id, e.embedding::DOUBLE[] AS vector, d.text,
      | d.doc_id % 20 AS user_id, d.source AS site, d.lang, d.doc_id AS seq
      | FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin.replace("\n", "")
}
