package graft.operators

import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directory tables — the Spark-native
  * re-expression of Raptor's shard organization
  * (`presto-raptor/src/main/java/com/facebook/presto/raptor/storage/
  * organization/CompactionSetCreator.java:60-96`, `ShardCompactor.java`):
  * the managed-storage maintenance pass that fixes the small-files
  * problem a long-lived ingesting table accumulates.
  *
  * Faithful pieces:
  *   - '''Compaction sets''' form exactly like the reference's
  *     `buildCompactionSets`: shards (files) sort ascending by size,
  *     then pack greedily until adding the next file would exceed
  *     `maxBytes` OR `maxRows` (`CompactionSetCreator.java:75-76`) —
  *     a set then finalizes and a new one starts. Sets with a single
  *     file are left alone (`addToCompactionSets`: only >1-shard sets
  *     organize), so already-compacted files are never rewritten —
  *     the pass is idempotent.
  *   - '''Execution''': each set's files are read together and
  *     rewritten as ONE file (the reference's OrganizationJob runs
  *     ShardCompactor over the set); source files are deleted only
  *     AFTER the replacement file is committed — the crash-safe order
  *     (a crash between write and delete leaves duplicates visible,
  *     which the reference prevents with its metadata transaction;
  *     without a transaction log this pass is a MAINTENANCE-WINDOW
  *     operation, documented, exactly like `VACUUM`/`OPTIMIZE` on
  *     log-less tables).
  *
  * Scale: per-file row counts come straight from each parquet FOOTER
  * (one O(KB) metadata read per file, no data pages touched, no Spark
  * job) — the same place the reference's shard metadata keeps
  * `row_count`; set planning is driver-side over the FILE list
  * (thousands of entries, not rows), O(files log files); each set
  * rewrite is a distributed job over just that set's files. At 100 TB
  * the pass compacts a day's ingest partition-by-partition; the
  * reference's temporal bucketing (`getShardsByDaysBuckets`) is the
  * same idea — run this per partition directory.
  */
object Compaction {

  final case class FileInfo(path: String, bytes: Long, rows: Long)

  final case class Summary(filesBefore: Long, filesAfter: Long,
      setsCompacted: Long, rowsBefore: Long, rowsAfter: Long)

  /** Per-file sizes and row counts of a parquet directory table.
    * Row counts read from each file's parquet footer — a metadata-only
    * O(KB) read per file, no data pages, no Spark job (the reference
    * reads `row_count` off its shard-metadata table the same way). */
  def fileInfos(spark: SparkSession, dir: String): Seq[FileInfo] =
    graft.Footers.read(spark, Seq(dir)).get.map(f =>
      FileInfo(f.path.toUri.toString, f.bytes, f.rows))

  /** Greedy compaction-set planning, `CompactionSetCreator` semantics:
    * sort ascending by size, pack until the NEXT file would push the
    * set past either bound, finalize, continue. Only sets holding more
    * than one file are returned (single-file sets never rewrite). */
  def planSets(files: Seq[FileInfo], maxBytes: Long,
      maxRows: Long): Seq[Seq[FileInfo]] = {
    require(maxBytes > 0 && maxRows > 0,
      "compaction bounds must be positive")
    val sorted = files.sortBy(f => (f.bytes, f.path))
    val sets = scala.collection.mutable.ArrayBuffer.empty[Seq[FileInfo]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[FileInfo]
    var bytes = 0L; var rows = 0L
    sorted.foreach { f =>
      if (cur.nonEmpty &&
          (bytes + f.bytes > maxBytes || rows + f.rows > maxRows)) {
        sets += cur.toSeq
        cur = scala.collection.mutable.ArrayBuffer.empty[FileInfo]
        bytes = 0L; rows = 0L
      }
      cur += f; bytes += f.bytes; rows += f.rows
    }
    if (cur.nonEmpty) sets += cur.toSeq
    sets.filter(_.size > 1).toSeq
  }

  /** Execute compaction sets CONCURRENTLY on a bounded pool — the
    * reference runs one OrganizationJob per set on its organizer
    * executor (`ShardOrganizer`'s thread pool), never serially. Each
    * set writes its replacement into a private scratch directory (so
    * concurrent jobs never share an output committer's _temporary
    * state), RENAMES the finished file into the table directory — the
    * commit point — and only then retires that set's sources: the
    * write-then-retire order holds per set regardless of interleaving.
    * Scratch directories are `_`-prefixed, which every parquet reader
    * ignores, so a crash mid-set leaves the table readable and the
    * pass re-runnable. Failures propagate only after all sets settle,
    * so no orphaned job keeps mutating the directory once compact()
    * has returned. */
  private def executeSets(spark: SparkSession, dir: String,
      sets: Seq[Seq[String]], maxConcurrentSets: Int): Unit = {
    if (sets.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.Exec.overlap(maxConcurrentSets)(sets.zipWithIndex.map {
      case (paths, i) => () => {
        val tmp = new org.apache.hadoop.fs.Path(dir, s"_graft_compact_$i")
        spark.read.parquet(paths: _*).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).find { s =>
          s.isFile && s.getPath.getName.startsWith("part-") &&
            s.getPath.getName.endsWith(".parquet")
        }.getOrElse(sys.error(s"compaction set $i wrote no file"))
        // job-scoped UUIDs keep renamed names collision-free; a
        // rename that reports false (name collision with a stale
        // crashed-run file, transient FS refusal) must abort the
        // set BEFORE any delete — sources outlive every failure
        val dst = new org.apache.hadoop.fs.Path(dir, part.getPath.getName)
        if (!fs.rename(part.getPath, dst))
          sys.error(s"compaction set $i: rename to $dst failed; " +
            "sources retained")
        fs.delete(tmp, true)
        // replacement committed — now retire the sources (the
        // reference deletes old shards inside the same metadata
        // transaction)
        paths.foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), false))
      }
    })
  }

  /** Compact a parquet directory in place: plan sets, rewrite each as
    * one file landed in the directory, then delete that set's source
    * files (write-then-delete order per set; sets run concurrently on
    * a bounded pool). Returns the before/after facts the caller's
    * gate pins. */
  def compact(spark: SparkSession, dir: String, maxBytes: Long,
      maxRows: Long, maxConcurrentSets: Int = 4): Summary = {
    val before = fileInfos(spark, dir)
    val sets = planSets(before, maxBytes, maxRows)
    executeSets(spark, dir, sets.map(_.map(_.path)), maxConcurrentSets)
    val after = fileInfos(spark, dir)
    Summary(before.size.toLong, after.size.toLong, sets.size.toLong,
      before.map(_.rows).sum, after.map(_.rows).sum)
  }

  // ——— temporal organization (the reference's other planning arm) ————
  //
  // A table with a temporal column never compacts across day
  // boundaries: shards group into DAY buckets first
  // (`ShardOrganizerUtil.getShardsByDaysBuckets:149-183`), each
  // bucket's shards sort by their temporal RANGE instead of size
  // (`CompactionSetCreator.getShardIndexInfoComparator:110-118`), and
  // the same greedy bounds apply per bucket. A shard's day comes from
  // its range (`TemporalFunction.getDayFromRange/determineDay:83-100`):
  // same-day ranges keep their day, a range spanning more than two
  // days takes the first FULL day, a two-day straddle takes the day
  // holding the larger share (ties to the start day). Day arithmetic
  // is UTC here (the reference's shardDayBoundaryTimeZone defaults
  // likewise). At 100 TB this is what keeps time-partition pruning
  // sharp through maintenance: compaction can never smear a file's
  // time range across days, so per-day scans keep skipping.

  final case class TemporalFileInfo(path: String, bytes: Long,
      rows: Long, minMillis: Long, maxMillis: Long) {
    def day: Int = determineDay(minMillis, maxMillis)
  }

  private val DayMillis = 86400000L

  /** `TemporalFunction.determineDay:83-100`, verbatim arithmetic. */
  def determineDay(rangeStartMillis: Long, rangeEndMillis: Long): Int = {
    val startDay = (rangeStartMillis / DayMillis).toInt
    val endDay = (rangeEndMillis / DayMillis).toInt
    if (startDay == endDay) startDay
    else if (endDay - startDay > 1) startDay + 1 // first full day
    else {
      val millisInStartDay = endDay.toLong * DayMillis - rangeStartMillis
      val millisInEndDay = rangeEndMillis - endDay.toLong * DayMillis
      if (millisInStartDay >= millisInEndDay) startDay else endDay
    }
  }

  /** Per-file temporal ranges from parquet FOOTER column statistics —
    * the same metadata-only read as [[fileInfos]] (the reference keeps
    * shard ranges in its metadata table, `ShardRange`). The column
    * must be a timestamp (INT64 micros in the footer, converted to
    * millis). Files without usable statistics (INT96 timestamps carry
    * no min/max; an all-null column has no range) are EXCLUDED,
    * mirroring the reference's `temporalRange.isPresent` filter — a
    * file whose range is unknown is never organized. */
  def temporalFileInfos(spark: SparkSession, dir: String,
      column: String): Seq[TemporalFileInfo] =
    graft.Footers.read(spark, Seq(dir), Seq(column)).get.flatMap { f =>
      f.ranges.get(column).map { case (lo, hi) =>
        TemporalFileInfo(f.path.toUri.toString, f.bytes, f.rows,
          lo / 1000L, hi / 1000L) // footer micros → millis
      }
    }

  /** Temporal compaction-set planning: day buckets first, the
    * range comparator within a bucket, the same greedy bounds; sets
    * never cross a day boundary and single-file sets never rewrite. */
  def planSetsTemporal(files: Seq[TemporalFileInfo], maxBytes: Long,
      maxRows: Long): Seq[Seq[TemporalFileInfo]] = {
    require(maxBytes > 0 && maxRows > 0,
      "compaction bounds must be positive")
    files.groupBy(_.day).toSeq.sortBy(_._1).flatMap {
      case (_, dayFiles) =>
        val sorted = dayFiles.sortBy(f =>
          (f.minMillis, f.maxMillis, f.path))
        val sets = scala.collection.mutable.ArrayBuffer.empty[Seq[TemporalFileInfo]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[TemporalFileInfo]
        var bytes = 0L; var rows = 0L
        sorted.foreach { f =>
          if (cur.nonEmpty &&
              (bytes + f.bytes > maxBytes || rows + f.rows > maxRows)) {
            sets += cur.toSeq
            cur = scala.collection.mutable.ArrayBuffer.empty[TemporalFileInfo]
            bytes = 0L; rows = 0L
          }
          cur += f; bytes += f.bytes; rows += f.rows
        }
        if (cur.nonEmpty) sets += cur.toSeq
        sets.filter(_.size > 1).toSeq
    }
  }

  /** Compact a time-ranged parquet directory in place, day-bucketed —
    * same bounded-concurrent write-then-retire execution as
    * [[compact]]. */
  def compactTemporal(spark: SparkSession, dir: String, column: String,
      maxBytes: Long, maxRows: Long,
      maxConcurrentSets: Int = 4): Summary = {
    val before = temporalFileInfos(spark, dir, column)
    val sets = planSetsTemporal(before, maxBytes, maxRows)
    // rewrites must stay ORGANIZABLE: INT96 output would lose the
    // footer range the next maintenance pass reads (the reference's
    // compactor preserves shard ranges in its metadata the same way)
    val tsType = "spark.sql.parquet.outputTimestampType"
    val priorTs = spark.conf.get(tsType)
    try {
      spark.conf.set(tsType, "TIMESTAMP_MICROS")
      executeSets(spark, dir, sets.map(_.map(_.path)), maxConcurrentSets)
    } finally spark.conf.set(tsType, priorTs)
    val after = temporalFileInfos(spark, dir, column)
    Summary(before.size.toLong, after.size.toLong, sets.size.toLong,
      before.map(_.rows).sum, after.map(_.rows).sum)
  }
}
