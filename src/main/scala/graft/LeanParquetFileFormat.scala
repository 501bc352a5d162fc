package graft

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's parquet reader, with a cheaper broadcast of the Hadoop conf.
  *
  * Every parquet scan broadcasts the session's Hadoop `Configuration`
  * (about 1,100 properties) inside a `SerializableConfiguration`. Hadoop's
  * `Configuration.write` also ships each property's provenance: the
  * names of the resource files that set it, gzipped through a new
  * `GZIPOutputStream` per property. That gzip is most of the broadcast's
  * cost, and it sits on the blocking path of every scan stage.
  *
  * This format hands the reader a [[LeanParquetFileFormat.ProvenanceFreeConf]]
  * instead. It writes the same wire format with the same keys and values
  * and a null provenance array, which `Configuration.readFields` already
  * accepts. Only provenance is dropped: on the executor side
  * `getPropertySources` answers "programmatically" for every key, as
  * `readFields` records a key that arrives without sources. Everything
  * else is `ParquetFileFormat`'s own code, so plans, pushdown and the
  * vectorized reader are unchanged.
  *
  * The swap is made where the read is created ([[Tables.parquet]] and
  * [[Tables.readParquet]] name this class as the format), not by a
  * Catalyst rule: `ParquetFileFormat.equals` accepts any
  * `ParquetFileFormat`, so a `transform` that replaces the format sees
  * an equal node and keeps the old one.
  *
  * Writes are untouched: `FileFormatWriter` still ships the full conf
  * in the task binary of every `.write.parquet`, which this class does
  * not reach.
  */
class LeanParquetFileFormat extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options,
      new LeanParquetFileFormat.ProvenanceFreeConf(hadoopConf))
}

object LeanParquetFileFormat {

  /** A copy of `base` whose `write` leaves out property provenance. */
  final class ProvenanceFreeConf(base: Configuration)
      extends Configuration(base) {

    /** `Configuration.write` with a null source array for every key. */
    override def write(out: DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.entrySet.forEach { e =>
        Text.writeString(out, e.getKey.asInstanceOf[String])
        Text.writeString(out, e.getValue.asInstanceOf[String])
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }
}
