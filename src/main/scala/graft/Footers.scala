package graft

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** The one parquet-footer reader: per-file row counts and long-column
  * value ranges straight from footer metadata — one O(KB) read per
  * file, no data pages, no Spark job. This is graft's analog of the
  * reference's shard metadata layer (Raptor keeps `row_count` and
  * `ShardRange` per shard, and compaction, organization and pruning
  * all read them from there).
  *
  * Policy stays with the caller: a failed read comes back as a
  * `Failure`, and the caller decides whether that means a `count()`
  * job, a conservative plan, or a loud error. */
object Footers {

  /** One parquet data file's footer facts. `ranges` holds the
    * (min, max) of each requested column over the row groups whose
    * statistics carry a non-null value; a requested column missing from
    * the map has no usable range (no statistics, INT96, or all nulls). */
  final case class FileFooter(path: Path, bytes: Long, rows: Long,
      ranges: Map[String, (Long, Long)])

  /** Footers of every parquet data file under `paths`. Each path is a
    * single file (read whatever its name) or a flat directory (its
    * `.parquet` files). Fails if any listing or footer read fails. */
  def read(spark: SparkSession, paths: Seq[String],
      longColumns: Seq[String] = Nil): Try[Seq[FileFooter]] = Try {
    val conf = spark.sessionState.newHadoopConf()
    val wanted = longColumns.toSet
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (st.isDirectory)
        fs.listStatus(path).toSeq.filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
      else Seq(st)
    }.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        var rows = 0L
        val ranges = scala.collection.mutable.Map.empty[String, (Long, Long)]
        reader.getFooter.getBlocks.forEach { block =>
          rows += block.getRowCount
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            val stats = cc.getStatistics
            // an all-null row group sets num_nulls, so its stats are not
            // isEmpty, yet min/max read back as a boxed 0: only a
            // non-null value makes min/max real
            if (wanted(name) && stats != null && stats.hasNonNullValue) {
              val lo = stats.genericGetMin.asInstanceOf[Number].longValue()
              val hi = stats.genericGetMax.asInstanceOf[Number].longValue()
              ranges(name) = ranges.get(name).fold((lo, hi)) {
                case (l, h) => (math.min(l, lo), math.max(h, hi))
              }
            }
          }
        }
        FileFooter(st.getPath, st.getLen, rows, ranges.toMap)
      } finally reader.close()
    }
  }

  /** Total footer row count under `paths`; None when the read fails or
    * finds no parquet file, so the caller can fall back to a count(). */
  def rowCount(spark: SparkSession, paths: Seq[String]): Option[Long] =
    read(spark, paths).toOption.filter(_.nonEmpty).map(_.map(_.rows).sum)
}
