package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Pinot-shaped OLAP connector — the Spark-native re-expression of
  * the reference's Pinot connector (`presto-pinot-toolkit/src/main/
  * java/com/facebook/presto/pinot/PinotSplitManager.java`), ninth
  * application of the documented in-process-substitution pattern, and
  * the one that carries the reference's WHOLE-QUERY-INTO-THE-STORE
  * mechanic: `PinotQueryGenerator` compiles a matching
  * filter/project/aggregate/limit/TopN subtree into one PQL query the
  * BROKER executes, and the split manager then plans a SINGLE
  * broker split (`generateSplitForBrokerBasedScan:63-66`, chosen at
  * `:189-192`) instead of per-segment scans.
  *
  * DOCUMENTED SUBSTITUTION: no Pinot cluster or client exists in this
  * zero-egress distribution, so the wire half is [[PinotStore]], a
  * JVM-wide store keeping Pinot's data organization — a table is a
  * list of sealed SEGMENTS, each assigned to a server by the routing
  * table. The connector layer stays Pinot-shaped:
  *
  *   - '''Two split modes''', exactly the reference's: a query whose
  *     aggregation / limit / TopN pushed plans ONE broker split (the
  *     broker answers the FINAL result — Spark's
  *     `supportCompletePushDown = true`, the opposite contract from
  *     the Druid analog's partial merge); a plain scan plans one split
  *     per segment from the routing table
  *     (`generateSplitsForSegmentBasedScan:68-123`).
  *   - '''Complete aggregate pushdown''': grouped
  *     count/count(col)/sum/min/max/avg over dimensions — note AVG is
  *     answered by the store as one number (`PinotAggregationProject
  *     Converter`'s statistical conversions), NOT decomposed into
  *     sum+count the way partial mode forces; Spark plans NO
  *     aggregate at all above the scan, and the suite locks that.
  *   - '''Limit / TopN push into the query''' like
  *     `PinotQueryGenerator.visitLimit/visitTopN` (`:460-476`): the
  *     sort AND the cap execute store-side, Spark plans no Sort; the
  *     reference's own rule that limit cannot push in segment mode
  *     (`:462-463`) holds — limit/TopN pushdown IS what flips the scan
  *     to broker mode.
  *   - '''Predicate pushdown''' (PQL WHERE): eq / IN / range / IS
  *     (NOT) NULL per column, as a [[TupleDomain]] applied before rows
  *     reach Spark; anything else residual.
  *
  * Read-only (Pinot ingests via its controller, not SQL INSERT);
  * population via [[PinotStore.ingest]] + [[PinotStore.seal]] — the
  * segment-build lifecycle.
  *
  * Scale stance: segment scans fan out one task per segment; pushed
  * aggregations/TopNs move only the FINAL result rows out of the
  * store — the broker fan-out to servers lives inside the store layer,
  * exactly where Pinot keeps it.
  */
object PinotStore {

  final case class ColumnDef(name: String, dt: DataType)

  final class Segment(val id: Int, val server: String) {
    private[sources] val rows = mutable.ArrayBuffer.empty[Seq[Any]]
    @volatile private[sources] var sealed_ = false
  }

  final class PinotTable(val name: String, val columns: Seq[ColumnDef],
      val servers: Int) {
    private[sources] val segments = mutable.ArrayBuffer.empty[Segment]
    private[sources] val colIdx: Map[String, Int] =
      columns.map(_.name).zipWithIndex.toMap
    def schema: StructType =
      StructType(columns.map(c => StructField(c.name, c.dt)))
  }

  private[graft] val tables = new ConcurrentHashMap[String, PinotTable]()

  /** Rows that crossed the store->Spark boundary. For a pushed
    * aggregation this rises by the number of RESULT rows — the
    * broker-mode proof the suite locks. */
  val rowsReturned = new AtomicLong(0L)

  def create(name: String, columns: Seq[(String, DataType)],
      servers: Int = 3): Unit = {
    columns.foreach { case (n, dt) =>
      require(dt == StringType || dt == LongType || dt == DoubleType ||
        dt == BooleanType,
        s"graft-pinot: unsupported type ${dt.catalogString} for '$n'")
    }
    require(servers > 0, "graft-pinot: servers must be > 0")
    tables.put(name, new PinotTable(name,
      columns.map { case (n, dt) => ColumnDef(n, dt) }, servers))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): PinotTable = {
    val t = tables.get(name)
    require(t != null, s"graft-pinot: unknown table '$name'")
    t
  }

  /** Append a row to the open (unsealed) tail segment. */
  def ingest(name: String, values: Seq[Any]): Unit = {
    val t = table(name)
    require(values.length == t.columns.length,
      "graft-pinot: row arity mismatch")
    t.synchronized {
      val seg = t.segments.lastOption.filterNot(_.sealed_).getOrElse {
        val s = new Segment(t.segments.length,
          s"server-${t.segments.length % t.servers}")
        t.segments += s
        s
      }
      seg.rows += values
    }
  }

  /** Bulk ingest — the out-of-band segment-build path (the reference's
    * Pinot tables are loaded by offline segment jobs, not row-at-a-time
    * through the connector): appends the whole batch, sealing a segment
    * every `segmentRows` rows. Gates make ONE call per fixture. */
  def ingestBatch(name: String, rows: Seq[Seq[Any]],
      segmentRows: Int = 100): Unit = {
    require(segmentRows > 0, "graft-pinot: segmentRows must be > 0")
    var i = 0
    rows.foreach { r =>
      ingest(name, r)
      i += 1
      if (i % segmentRows == 0) seal(name)
    }
  }

  /** Seal the open segment — the segment-build step; the next ingest
    * opens a new one (and the routing table assigns its server). */
  def seal(name: String): Unit = {
    val t = table(name)
    t.synchronized(t.segments.lastOption.foreach(_.sealed_ = true))
  }

  def segmentCount(name: String): Int =
    table(name).synchronized(table(name).segments.length)

  // ---- the compiled query (the GeneratedPql analog) ----------------

  final case class PAgg(groupCols: Seq[String],
      aggs: Seq[(String, String, DataType)]) // (op, col|"", resultType)
  /** (column, ascending, nullsFirst) triples + the cap. */
  final case class PTopN(orders: Seq[(String, Boolean, Boolean)],
      limit: Int)

  final case class PinotQuery(domain: TupleDomain,
      agg: Option[PAgg], topN: Option[PTopN], limit: Option[Int]) {
    def isBrokerQuery: Boolean =
      agg.isDefined || topN.isDefined || limit.isDefined
  }

  /** The broker: execute the whole compiled query over every segment
    * and return FINAL rows. This is the `PinotBrokerPageSource` —
    * the server fan-out happens inside the store, like Pinot. */
  private[sources] def brokerExecute(t: PinotTable, q: PinotQuery,
      required: StructType): Iterator[Seq[Any]] = {
    val all: Vector[Seq[Any]] = t.synchronized {
      t.segments.flatMap(_.rows).toVector
    }.filter(r => q.domain.matches(c => r(t.colIdx(c))))
    q.agg match {
      case Some(PAgg(groupCols, aggs)) =>
        val acc = mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
        all.foreach { r =>
          val key = groupCols.map(c => r(t.colIdx(c)))
          // slots: (sum-or-value, count) pairs packed per agg
          val slots = acc.getOrElseUpdate(key,
            Array.fill[Any](aggs.length * 2)(null))
          aggs.zipWithIndex.foreach { case ((op, col, dt), i) =>
            def cv: Any = if (col.isEmpty) null else r(t.colIdx(col))
            op match {
              case "count_star" =>
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
              case "count" =>
                val inc = if (cv != null) 1L else 0L
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + inc
              case "distinct_count" => if (cv != null) {
                // Pinot's DISTINCTCOUNT: an exact value set per group
                // (the segment-level set union the broker merges)
                val set = Option(slots(2 * i))
                  .map(_.asInstanceOf[mutable.HashSet[Any]])
                  .getOrElse { val s0 = mutable.HashSet.empty[Any]
                    slots(2 * i) = s0; s0 }
                set += cv
              }
              case "sum" => if (cv != null) {
                slots(2 * i) =
                  if (dt == LongType)
                    Option(slots(2 * i)).map(_.asInstanceOf[Long])
                      .getOrElse(0L) + cv.asInstanceOf[Number].longValue()
                  else
                    Option(slots(2 * i)).map(_.asInstanceOf[Double])
                      .getOrElse(0.0) + cv.asInstanceOf[Number].doubleValue()
              }
              case "avg" => if (cv != null) {
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Double]).getOrElse(0.0) +
                  cv.asInstanceOf[Number].doubleValue()
                slots(2 * i + 1) = Option(slots(2 * i + 1))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
              }
              case "min" | "max" => if (cv != null) {
                val better = Option(slots(2 * i)) match {
                  case None => true
                  case Some(prev) =>
                    val d = Domain.ordering(t.columns(t.colIdx(col)).dt)
                      .compare(cv, prev)
                    if (op == "min") d < 0 else d > 0
                }
                if (better) slots(2 * i) = cv
              }
            }
          }
        }
        acc.iterator.map { case (key, slots) =>
          key ++ aggs.zipWithIndex.map { case ((op, _, _), i) =>
            op match {
              case "avg" =>
                if (slots(2 * i) == null) null
                else slots(2 * i).asInstanceOf[Double] /
                  slots(2 * i + 1).asInstanceOf[Long]
              case "count" | "count_star" =>
                Option(slots(2 * i)).getOrElse(0L)
              case "distinct_count" =>
                Option(slots(2 * i))
                  .map(_.asInstanceOf[mutable.HashSet[Any]].size.toLong)
                  .getOrElse(0L)
              case _ => slots(2 * i)
            }
          }
        }
      case None =>
        def project(r: Seq[Any]): Seq[Any] =
          required.fields.toSeq.map(f => r(t.colIdx(f.name)))
        q.topN match {
          case Some(PTopN(orders, limit)) =>
            // sort the RAW rows: the ORDER BY column need not be in the
            // SELECT list (the pruned schema), exactly like PQL
            val keys = orders.map { case (c, asc, nullsFirst) =>
              (t.colIdx(c), Domain.ordering(t.columns(t.colIdx(c)).dt),
                asc, nullsFirst)
            }
            val ord = new Ordering[Seq[Any]] {
              override def compare(a: Seq[Any], b: Seq[Any]): Int = {
                var i = 0
                while (i < keys.length) {
                  val (c, valueOrd, asc, nullsFirst) = keys(i)
                  val (x, y) = (a(c), b(c))
                  val d =
                    if (x == null && y == null) 0
                    else if (x == null) { if (nullsFirst) -1 else 1 }
                    else if (y == null) { if (nullsFirst) 1 else -1 }
                    else {
                      val raw = valueOrd.compare(x, y)
                      if (asc) raw else -raw
                    }
                  if (d != 0) return d
                  i += 1
                }
                0
              }
            }
            all.sorted(ord).iterator.take(limit).map(project)
          case None => q.limit match {
            case Some(n) => all.iterator.take(n).map(project)
            case None => all.iterator.map(project)
          }
        }
    }
  }
}

class PinotBrokerProvider extends ConnectorProvider("graft-pinot") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new PinotBrokerTable(options)
}

class PinotBrokerTable(options: CaseInsensitiveStringMap) extends ReadTable {

  private val tableName = Connector.option(options, "graft-pinot", "table")

  override def name(): String = s"graft-pinot.$tableName"
  override def schema(): StructType = PinotStore.table(tableName).schema

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new PinotScanBuilder(tableName)
}

/** The `PinotQueryGenerator` analog: compiles the pushed subtree into
  * a [[PinotStore.PinotQuery]]. Aggregation / limit / TopN pushing is
  * COMPLETE — the broker answers finals — and flips the split plan to
  * one broker split. */
class PinotScanBuilder(tableName: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownRequiredColumns {

  import PinotStore._

  private val t = PinotStore.table(tableName)
  private var pushed: Array[Filter] = Array.empty
  private var domain = TupleDomain.All
  private var agg: Option[PAgg] = None
  private var topN: Option[PTopN] = None
  private var limit: Option[Int] = None
  private var required: StructType = t.schema

  private def isCol(a: String) = t.colIdx.contains(a)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (taken, d) =
      TupleDomain.push(filters, TupleDomain.types(t.schema))((_, _) => true)
    pushed = taken
    domain = d
    filters.filterNot(taken.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def fieldOf(e: VExpression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Complete pushdown — the broker returns finals (`:189-192` picks
    * the broker split whenever the PQL generator succeeded). */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    translate(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    translate(aggregation) match {
      case Some(p) =>
        agg = Some(p)
        required = StructType(
          p.groupCols.map(c =>
            StructField(c, t.columns(t.colIdx(c)).dt)) ++
            p.aggs.zipWithIndex.map { case ((op, f, dt), i) =>
              StructField(s"${op}_${if (f.isEmpty) "star" else f}_$i", dt)
            })
        true
      case None => false
    }

  private def translate(aggregation: Aggregation): Option[PAgg] = {
    val groups = aggregation.groupByExpressions().toSeq.map(fieldOf)
    if (groups.exists(g => g.isEmpty || !isCol(g.get))) return None
    def numeric(f: String): Boolean = {
      val dt = t.columns(t.colIdx(f)).dt
      dt == LongType || dt == DoubleType
    }
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(("count_star", "", LongType))
      case c: Count if c.isDistinct =>
        // the reference compiles distinct counts store-side too:
        // `PinotAggregationProjectConverter` maps COUNT(DISTINCT x) /
        // approx_distinct(x) onto Pinot's DISTINCTCOUNT family — the
        // broker answers one final per group, raw values never leave
        fieldOf(c.column).filter(isCol)
          .map(f => ("distinct_count", f, LongType))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(isCol).map(f => ("count", f, LongType))
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("sum", f, t.columns(t.colIdx(f)).dt))
      case a: Avg if !a.isDistinct =>
        fieldOf(a.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("avg", f, DoubleType))
      case m: Min =>
        fieldOf(m.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("min", f, t.columns(t.colIdx(f)).dt))
      case m: Max =>
        fieldOf(m.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("max", f, t.columns(t.colIdx(f)).dt))
      case _ => None
    }
    if (aggs.exists(_.isEmpty)) None
    else Some(PAgg(groups.map(_.get), aggs.map(_.get)))
  }

  /** `visitLimit:460-463` — pushing the limit IS going broker mode. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  /** `visitTopN:470-476` — single-step TopN only, fully store-side. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val compiled = orders.toSeq.map { o =>
      fieldOf(o.expression()).filter(isCol).map { c =>
        (c, o.direction() == SortDirection.ASCENDING,
          o.nullOrdering() ==
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)
      }
    }
    if (compiled.exists(_.isEmpty)) false
    else {
      topN = Some(PTopN(compiled.map(_.get), n))
      true
    }
  }

  override def isPartiallyPushed(): Boolean = false // broker = complete

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (agg.isEmpty) required = requiredSchema

  override def build(): Scan =
    new PinotScan(tableName, PinotQuery(domain, agg, topN, limit),
      required, pushed)
}

sealed trait PinotSplit extends ConnectorSplit {
  def required: StructType

  /** The split's result values, one Seq per row. */
  private[sources] def values(): Iterator[Seq[Any]]

  override def rows(): Iterator[InternalRow] = values().map { cur =>
    PinotStore.rowsReturned.incrementAndGet()
    InternalRow.fromSeq(cur.zip(required.fields.toSeq).map {
      case (null, _) => null
      case (v, f) => f.dataType match {
        case StringType => UTF8String.fromString(v.toString)
        case LongType => v.asInstanceOf[Number].longValue()
        case DoubleType => v.asInstanceOf[Number].doubleValue()
        case BooleanType => v.asInstanceOf[Boolean]
        case other => sys.error(s"graft-pinot: bad type $other")
      }
    })
  }
}

/** The single whole-query split (`generateSplitForBrokerBasedScan`). */
final case class PinotBrokerSplit(table: String,
    query: PinotStore.PinotQuery, required: StructType) extends PinotSplit {
  override private[sources] def values(): Iterator[Seq[Any]] =
    PinotStore.brokerExecute(PinotStore.table(table), query, required)
}

/** One split per segment from the routing table
  * (`generateSplitsForSegmentBasedScan`). */
final case class PinotSegmentSplit(table: String, segmentId: Int,
    server: String, query: PinotStore.PinotQuery, required: StructType)
    extends PinotSplit {
  override private[sources] def values(): Iterator[Seq[Any]] = {
    val t = PinotStore.table(table)
    val rows = t.synchronized(
      t.segments.find(_.id == segmentId).map(_.rows.toVector)
        .getOrElse(Vector.empty))
    rows.iterator
      .filter(r => query.domain.matches(c => r(t.colIdx(c))))
      .map(r => required.fields.toSeq.map(f => r(t.colIdx(f.name))))
  }
}

class PinotScan(tableName: String, query: PinotStore.PinotQuery,
    required: StructType, pushedFilters: Array[Filter])
    extends ConnectorScan(required)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def description(): String =
    s"graft-pinot $tableName mode=" +
      (if (query.isBrokerQuery) "broker" else "segment") +
      s" PushedFilters: [${pushedFilters.mkString(", ")}]" +
      s" PushedAggregation: ${query.agg.isDefined}" +
      s" PushedTopN: ${query.topN.isDefined}" +
      s" PushedLimit: ${query.limit.isDefined}" +
      " cols=" + required.fieldNames.mkString(",")

  /** The `:189-192` choice: broker split when the query compiled. */
  override def planInputPartitions(): Array[InputPartition] = {
    val t = PinotStore.table(tableName)
    if (query.isBrokerQuery)
      Array(PinotBrokerSplit(tableName, query, required))
    else t.synchronized {
      t.segments.map(s => PinotSegmentSplit(tableName, s.id, s.server,
        query, required): InputPartition).toArray
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val t = PinotStore.table(tableName)
    val rows = t.synchronized(t.segments.map(_.rows.length.toLong).sum)
    ScanStats(rows, rows * 128L)
  }
}
