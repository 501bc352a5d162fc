package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An atop-shaped host-monitoring connector — the Spark-native
  * re-expression of the reference's atop connector
  * (`presto-atop/src/main/java/com/facebook/presto/atop/
  * AtopConnectorFactory.java`), eleventh application of the documented
  * in-process-substitution pattern, and the one whose split model is
  * HOST × DAY: the reference plans one split per worker node per day
  * of retained history (`AtopSplitManager.java:68-84`), pins the split
  * to its node (atop's raw logs live on the host that wrote them), and
  * PRUNES whole days at planning when the query's start_time/end_time
  * constraint cannot overlap the day's domain (`:76-79` — the overlap
  * check this connector carries verbatim).
  *
  * DOCUMENTED SUBSTITUTION: there is no fleet of hosts running atop(1)
  * here, so the wire half is a JVM-wide log store keyed (host, epoch
  * day) holding raw atop-parseable lines. Everything above it keeps
  * the reference's contracts:
  *
  *   - '''Fixed tables from one label stream''' (`AtopTable.java:45-70`):
  *     `disks` parses DSK sample lines by FIELD INDEX — 1 host (short,
  *     unused: host_ip comes from the split), 2 end-epoch seconds,
  *     5 duration seconds, 6 device, 7 io millis, 8-11 the four
  *     request/sector counters; start_time = end − duration,
  *     utilization_percent = round(100·io/durationMs) capped at 100,
  *     io_millis surfaces the INTERVAL's millisecond payload
  *     (`AtopTable.java:56-58` writes the same long).
  *   - '''The RESET/SEP stream protocol''' (`AtopPageSource.java:132-156`):
  *     SEP lines skip; for `disks` a RESET drops the IMMEDIATELY
  *     FOLLOWING sample (the "since boot" duration outlier); for
  *     `reboots` ONLY the line after a RESET matters — power_on_time =
  *     its end − duration.
  *   - '''Host×day splits with planning-time day pruning''' and
  *     `preferredLocations` = the host (the reference's hard node
  *     affinity, advisory on a local cluster).
  *   - '''Residual filters''': the reference's engine re-applies the
  *     constraint on rows; the day pruning is the only thing the
  *     connector promises. All pushed filters stay residual here too.
  *
  * Scale stance: split count = hosts × retained days (the reference's
  * own fan-out: a 1000-host fleet at 30-day retention is 30k
  * independent splits); day pruning is planning-time metadata work;
  * each split parses one host-day log locally.
  */
object AtopLogStore {
  /** store name -> (host -> epochDay -> raw lines). */
  private val stores = new ConcurrentHashMap[String,
    ConcurrentHashMap[(String, Long), Vector[String]]]()

  def drop(store: String): Unit = stores.remove(store)

  private[sources] def clearAll(): Unit = stores.clear()

  def append(store: String, host: String, epochDay: Long,
      lines: Seq[String]): Unit = {
    val s = stores.computeIfAbsent(store,
      _ => new ConcurrentHashMap[(String, Long), Vector[String]]())
    s.merge((host, epochDay), lines.toVector, (a, b) => a ++ b)
  }

  private[sources] def hostDays(store: String): Seq[(String, Long)] = {
    val s = stores.get(store)
    require(s != null, s"graft-atop: unknown store '$store'")
    s.keySet().asScala.toSeq.sorted
  }

  private[sources] def lines(store: String, host: String,
      epochDay: Long): Vector[String] =
    Option(stores.get(store)).flatMap(s => Option(s.get((host, epochDay))))
      .getOrElse(Vector.empty)
}

object AtopTables {
  val Disks: StructType = StructType(Seq(
    StructField("host_ip", StringType, nullable = false),
    StructField("start_time", TimestampType, nullable = false),
    StructField("end_time", TimestampType, nullable = false),
    StructField("device_name", StringType, nullable = false),
    StructField("utilization_percent", DoubleType, nullable = false),
    StructField("io_millis", LongType, nullable = false),
    StructField("read_requests", LongType, nullable = false),
    StructField("sectors_read", LongType, nullable = false),
    StructField("write_requests", LongType, nullable = false),
    StructField("sectors_written", LongType, nullable = false)))

  val Reboots: StructType = StructType(Seq(
    StructField("host_ip", StringType, nullable = false),
    StructField("power_on_time", TimestampType, nullable = false)))

  def schemaOf(table: String): StructType = table match {
    case "disks" => Disks
    case "reboots" => Reboots
    case other => throw new IllegalArgumentException(
      s"graft-atop: unknown table '$other' (disks, reboots)")
  }
}

class AtopLogProvider extends ConnectorProvider("graft-atop") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new AtopLogTable(options)
}

class AtopLogTable(options: CaseInsensitiveStringMap) extends ReadTable {

  private val store = Connector.option(options, "graft-atop", "store")
  private val tableName = options.get("table")

  override def name(): String = s"graft-atop.$store.$tableName"
  override def schema(): StructType = AtopTables.schemaOf(tableName)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AtopScanBuilder(store, tableName, schema(),
      Option(options.get("max_history_days")).map(_.toInt).getOrElse(30))
}

/** Records the domains of the time columns' `=`, `IN` and range
  * filters for day pruning; every filter stays residual (the
  * reference's engine re-filters rows too). */
class AtopScanBuilder(store: String, table: String, full: StructType,
    maxHistoryDays: Int) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var bounds = TupleDomain.All
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val timeCols = Set("start_time", "end_time", "power_on_time")
    bounds = TupleDomain.push(filters, TupleDomain.types(full)) { (c, d) =>
      timeCols(c) && (d.values.isDefined || d.interval.isDefined)
    }._2
    filters // all residual
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new AtopScan(store, table, required, bounds, maxHistoryDays)
}

final case class AtopSplit(store: String, table: String, host: String,
    epochDay: Long, required: StructType) extends ConnectorSplit {
  // the reference pins the split to its host (`AtopSplit.getAddresses`)
  override def preferredLocations(): Array[String] = Array(host)

  override def rows(): Iterator[InternalRow] = {
    val raw = AtopLogStore.lines(store, host, epochDay)

    // the AtopPageSource.getNextPage stream protocol (:132-156)
    val samples: Vector[Vector[String]] = {
      val out = Vector.newBuilder[Vector[String]]
      var i = 0
      while (i < raw.length) {
        val row = raw(i)
        if (row == "SEP") { i += 1 }
        else if (row == "RESET") {
          if (table == "reboots") {
            if (i + 1 < raw.length) {
              out += raw(i + 1).split(' ').toVector
            }
            i += 2
          } else {
            // drop the sample right after a RESET: a "since boot"
            // duration outlier
            i += 2
          }
        } else {
          if (table != "reboots") out += row.split(' ').toVector
          i += 1
        }
      }
      out.result()
    }

    samples.iterator.map { f =>
      def epoch = f(2).toLong
      def dur = f(5).toLong
      def micros(sec: Long): Long = sec * 1000000L
      InternalRow.fromSeq(required.fieldNames.toSeq.map {
        case "host_ip" => UTF8String.fromString(host)
        case "start_time" => micros(epoch - dur)
        case "end_time" => micros(epoch)
        case "power_on_time" => micros(epoch - dur)
        case "device_name" => UTF8String.fromString(f(6))
        case "utilization_percent" =>
          // `AtopTable.java:47-55`: round(100·io/durationMs), cap 100
          val u = math.round(100.0 * f(7).toLong / (dur * 1000.0))
            .toDouble
          if (u > 100) 100.0 else u
        case "io_millis" => f(7).toLong
        case "read_requests" => f(8).toLong
        case "sectors_read" => f(9).toLong
        case "write_requests" => f(10).toLong
        case "sectors_written" => f(11).toLong
        case other => sys.error(s"graft-atop: unknown column $other")
      })
    }
  }
}

class AtopScan(store: String, table: String, required: StructType,
    bounds: TupleDomain, maxHistoryDays: Int)
    extends ConnectorScan(required) {

  override def description(): String =
    s"graft-atop $table days<=$maxHistoryDays bounds=${bounds.domains.keys.toSeq.sorted.mkString(",")}"

  /** The `AtopSplitManager.getSplits:68-84` loop: one split per
    * (host, retained day), kept only when the day's time domain
    * overlaps every recorded constraint — planning-time day pruning. */
  override def planInputPartitions(): Array[InputPartition] = {
    val all = AtopLogStore.hostDays(store)
    val maxDay = all.map(_._2).maxOption.getOrElse(0L)
    val minDay = maxDay - (maxHistoryDays - 1)
    all.filter { case (_, day) =>
      day >= minDay && {
        // a row's start/end/power_on always falls inside its own day
        // domain, so every recorded domain must overlap the day
        val micros = 86400L * 1000000L
        val inDay = Range(Some(Bound(day * micros, true)),
          Some(Bound((day + 1) * micros, false)))
        bounds.domains.values.forall(_.overlaps(inDay))
      }
    }.map { case (host, day) =>
      AtopSplit(store, table, host, day, required)
    }.toArray
  }
}
