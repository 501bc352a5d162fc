package graft.sources

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Local log-file connector — the Spark-native re-expression of the
  * reference's local-file plugin (`presto-local-file/src/main/java/com/
  * facebook/presto/localfile/LocalFileTables.java:113-133`,
  * `LocalFileRecordCursor.java:68-71,300-345`): a directory of
  * (optionally gzipped) HTTP request logs as the `http_request_log`
  * table.
  *
  * Format, verbatim from the cursor: one record per line, TAB-separated
  * trimmed fields, timestamps ISO-8601 with offset; a missing or empty
  * trailing field reads NULL. Columns (`HttpRequestLogTable.COLUMNS`):
  * server_address (the reading node, not in the file), timestamp,
  * client_address, method, request_uri, user, agent, response_code,
  * request_size, response_size, time_to_last_byte, trace_token.
  *
  * Scale/pushdown shape: one InputPartition per file (the reference
  * schedules per-node splits over each node's own log directory — on a
  * Spark cluster the same files-as-splits listing distributes over
  * executors). Timestamp predicates push into the SCAN as file-level
  * pruning: log files rotate in time order, so a file whose FIRST
  * record is already past a pushed upper bound is skipped wholesale.
  * The reference goes further and drops any file whose first record
  * fails the predicate (`readFields`' newReader check) — that loses
  * in-range rows of straddling files; we prune only provably-excluded
  * files and report the filters as residual so Spark re-applies them
  * row-level (correctness-preserving refinement, noted in SURVEY).
  */
object LocalFileConn {
  val Iso: DateTimeFormatter = DateTimeFormatter.ISO_OFFSET_DATE_TIME

  val schema: StructType = StructType(Seq(
    StructField("server_address", StringType),
    StructField("timestamp", TimestampType),
    StructField("client_address", StringType),
    StructField("method", StringType),
    StructField("request_uri", StringType),
    StructField("user", StringType),
    StructField("agent", StringType),
    StructField("response_code", LongType),
    StructField("request_size", LongType),
    StructField("response_size", LongType),
    StructField("time_to_last_byte", LongType),
    StructField("trace_token", StringType)))

  /** GZIP sniff, the `isGZipped` magic check. */
  private[sources] def open(path: String): BufferedReader = {
    val fis = new FileInputStream(path)
    val in =
      if (fis.markSupported()) fis else new java.io.BufferedInputStream(fis)
    in.mark(2)
    val b0 = in.read(); val b1 = in.read()
    in.reset()
    val stream =
      if ((b0 | (b1 << 8)) == GZIPInputStream.GZIP_MAGIC) new GZIPInputStream(in)
      else in
    new BufferedReader(new InputStreamReader(stream, StandardCharsets.UTF_8))
  }

  private[sources] def epochMicros(iso: String): Long = {
    val odt = OffsetDateTime.parse(iso, Iso)
    odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L
  }

  /** First record's timestamp micros, or None for an empty/blank file. */
  private[sources] def firstTimestamp(path: String): Option[Long] = {
    val r = open(path)
    try {
      Iterator.continually(r.readLine()).takeWhile(_ != null)
        .find(_.trim.nonEmpty)
        .map(l => epochMicros(l.split("\t", -1)(0).trim))
    } finally r.close()
  }

  /** One line → InternalRow: TAB split, trimmed, short rows NULL-pad —
    * `LocalFileRecordCursor.getFieldValue` returns null past the last
    * field; empty strings read NULL likewise. */
  private[sources] def parse(line: String, node: String): InternalRow = {
    val f = line.split("\t", -1).map(_.trim)
    def s(i: Int): Any =
      if (i >= f.length || f(i).isEmpty) null else UTF8String.fromString(f(i))
    def l(i: Int): Any =
      if (i >= f.length || f(i).isEmpty) null else f(i).toLong
    val ts: Any =
      if (f.length < 1 || f(0).isEmpty) null else epochMicros(f(0))
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(node), ts, s(1), s(2), s(3), s(4), s(5),
      l(6), l(7), l(8), l(9), s(10)))
  }
}

class LocalFileTableProvider extends ConnectorProvider("graft-localfile") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new LocalFileTable(options)
}

class LocalFileTable(options: CaseInsensitiveStringMap) extends ReadTable {
  private val dir = Connector.option(options, "graft-localfile", "dir")
  private val pattern = options.getOrDefault("pattern", "*")

  override def name(): String = s"graft-localfile.$dir"
  override def schema(): StructType = LocalFileConn.schema

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LocalFileScanBuilder(dir, pattern)
}

class LocalFileScanBuilder(dir: String, pattern: String)
    extends ScanBuilder with SupportsPushDownFilters {

  private var pushed: Array[Filter] = Array.empty
  private var domain = TupleDomain.All

  // Accept timestamp ranges for file-level pruning; EVERYTHING stays
  // residual (returned back) so Spark still filters row-level.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (taken, d) = TupleDomain.push(filters,
      TupleDomain.types(LocalFileConn.schema)) {
      (c, d) => c == "timestamp" && d.interval.isDefined
    }
    pushed = taken
    domain = d
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new LocalFileScan(dir, pattern, pushed, domain)
}

/** One log file; blank lines skip. */
final case class LocalFileSplit(path: String) extends ConnectorSplit {
  override def rows(): Iterator[InternalRow] = {
    val node = JmxConn.nodeId
    val reader = LocalFileConn.open(path)
    new ClosingRows(Iterator.continually(reader.readLine())
      .takeWhile(_ != null).filter(_.trim.nonEmpty)
      .map(LocalFileConn.parse(_, node)), reader)
  }
}

class LocalFileScan(dir: String, pattern: String, pushed: Array[Filter],
    domain: TupleDomain) extends ConnectorScan(LocalFileConn.schema) {

  override def description(): String =
    s"graft-localfile $dir pushed=[${pushed.mkString(", ")}]"

  /** Upper bound (micros) of the pushed timestamp ranges, if any. */
  private def upperBound: Option[Long] =
    domain.get("timestamp").flatMap(_.span).flatMap(_.hi)
      .map(_.value.asInstanceOf[Long])

  override def planInputPartitions(): Array[InputPartition] = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"graft-localfile: '$dir' is not a directory")
    val rx = java.util.regex.Pattern.compile(
      pattern.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*"))
    val files = d.listFiles().toSeq
      .filter(f => f.isFile && rx.matcher(f.getName).matches())
      .sortBy(_.getName)
    // rotation-ordered pruning: drop files whose first record is past
    // the pushed upper bound (every later record is too — time-ascending
    // log append). Lower-bound-only files keep: rows may straddle.
    val kept = upperBound match {
      case None => files
      case Some(ub) => files.filter(f =>
        LocalFileConn.firstTimestamp(f.getAbsolutePath).forall(_ <= ub))
    }
    kept.map(f => LocalFileSplit(f.getAbsolutePath)).toArray[InputPartition]
  }
}
