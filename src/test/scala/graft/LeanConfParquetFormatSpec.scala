package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream, ObjectStreamClass}

import graft.api.PayloadIndex
import graft.api.Filters._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.LeanConfParquetFormat

/** The payload index's parquet format: its scans broadcast a Hadoop
  * configuration that carries every key and value but no per-key
  * provenance, and it reads the same rows as plain parquet.
  */
class LeanConfParquetFormatSpec extends SparkSpecBase {

  private def written(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    c.write(out)
    out.flush()
    bytes.toByteArray
  }

  test("the lean configuration reads back to every key and raw value of the session's, in a smaller stream") {
    val source = new Configuration(spark.sparkContext.hadoopConfiguration)
    val lean = new LeanConfParquetFormat.LeanConfiguration(source)
    val back = new Configuration(false)
    back.readFields(new DataInputStream(new ByteArrayInputStream(written(lean))))
    import scala.jdk.CollectionConverters._
    val keys = source.iterator().asScala.map(_.getKey).toSet
    assert(keys.size > 100, s"the session's configuration holds ${keys.size} keys")
    assert(back.size() == source.size())
    assert(back.iterator().asScala.map(_.getKey).toSet == keys)
    keys.foreach(k => assert(back.getRaw(k) == source.getRaw(k), k))
    val (leanBytes, fullBytes) = (written(lean).length, written(source).length)
    assert(leanBytes < fullBytes, s"lean $leanBytes bytes, Hadoop's own $fullBytes")
  }

  test("a payload-index read through the lean format returns the plain parquet read's rows, vectorized or not") {
    val root = java.nio.file.Files.createTempDirectory("graft-lean-").toString + "/idx"
    val pts = Tables.points(spark, sf)
    val idx = PayloadIndex.create(spark, pts, root,
      keyword = Seq("site", "lang"), integer = Seq("user_id"), nZones = 8)
    val key = "spark.sql.parquet.enableVectorizedReader"
    val was = spark.conf.get(key)
    try {
      for (vectorized <- Seq(true, false)) {
        spark.conf.set(key, vectorized.toString)
        val viaIdx = idx.readFilter(PFilter(must = Seq(MatchValue("user_id", "3"))))
        val relation = viaIdx.queryExecution.analyzed.collectFirst {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
        }.get
        assert(relation.fileFormat.isInstanceOf[LeanConfParquetFormat])
        val plain = spark.read.schema(relation.schema).parquet(s"$root/data")
          .filter(col("user_id") === 3L).select(pts.columns.map(col): _*)
        val scans = viaIdx.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
        assert(scans.nonEmpty && scans.forall(_.supportsColumnar == vectorized),
          viaIdx.queryExecution.executedPlan)
        def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.getAs[Long]("id"))
        val got = rows(viaIdx)
        assert(got.nonEmpty)
        assert(got == rows(plain), s"vectorized = $vectorized")
      }
    } finally spark.conf.set(key, was)
  }

  test("the lean format serializes with no state of its own") {
    val chain = Iterator.iterate[Class[_]](classOf[LeanConfParquetFormat])(_.getSuperclass)
      .takeWhile(c => c != null && classOf[java.io.Serializable].isAssignableFrom(c)).toSeq
    assert(chain.contains(classOf[ParquetFileFormat]))
    chain.foreach(c => assert(ObjectStreamClass.lookup(c).getFields.isEmpty,
      s"${c.getName} serializes ${ObjectStreamClass.lookup(c).getFields.toSeq}"))
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new LeanConfParquetFormat)
    out.close()
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back.isInstanceOf[LeanConfParquetFormat])
    assert(back == new ParquetFileFormat && back.toString == "Parquet")
  }
}
