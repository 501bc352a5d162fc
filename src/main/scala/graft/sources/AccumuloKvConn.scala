package graft.sources

import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap, ConcurrentSkipListSet}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An Accumulo-shaped sorted key/value connector — the Spark-native
  * re-expression of the reference's Accumulo connector
  * (`presto-accumulo/src/main/java/com/facebook/presto/accumulo/
  * AccumuloConnectorFactory.java`), seventh application of the
  * documented in-process-substitution pattern ([[KafkaLog]],
  * [[RedisStore]], [[EsStore]], [[CassStore]], [[MongoStore]],
  * [[DruidStore]]).
  *
  * DOCUMENTED SUBSTITUTION: no Accumulo server or client jar exists in
  * this zero-egress distribution, so the tablet-server half is replaced
  * by [[AccStore]], a JVM-wide registry that keeps the real Accumulo
  * data organization: rows SORTED by an order-preserving row-id
  * encoding (the Lexicoder contract), cells stored per column FAMILY
  * (so locality groups prune structurally), plus the connector's own
  * secondary-index and metrics tables. EVERYTHING above the RPC stays
  * Accumulo-connector-shaped:
  *
  *   - '''Secondary-index planning''' mirrors
  *     `index/IndexLookup.applyIndex` (`:129-285`) decision for
  *     decision: constraints on indexed columns look up row IDs in the
  *     index table (value -> rowId, `Indexer.java:231`); with metrics
  *     enabled the per-value CARDINALITIES and the table row count
  *     (`___METRICS_TABLE___/___rows___/___card___`,
  *     `Indexer.java:108-116`) drive the choice — a column under the
  *     lowest-cardinality threshold (default .01,
  *     `AccumuloSessionProperties.java:89-94`) short-circuits to that
  *     column's row IDs alone, otherwise ALL indexed constraints'
  *     row-id sets INTERSECT (`IndexLookup.getIndexRanges` retainAll);
  *     if the final candidate count is >= index_threshold (default .2)
  *     of the table the index is ABANDONED for a tablet scan
  *     (`IndexLookup.java:270-285`).
  *   - '''Split model''': index hits are BINNED into splits of
  *     index_rows_per_split row IDs (default 10000,
  *     `IndexLookup.binRanges:372`); non-indexed scans split the row-id
  *     range on TABLET boundaries
  *     (`AccumuloClient.getTabletSplits:652-715` +
  *     `splitByTabletBoundaries:756`) — one task per tablet on a
  *     cluster.
  *   - '''Predicates are enforced store-side''' (the filter-iterator
  *     analog): the pushed filters' [[TupleDomain]] is re-applied to
  *     every candidate row, so
  *     stale index entries left by Accumulo's append-only `Indexer`
  *     (overwritten rows are NOT un-indexed; metrics cardinalities are
  *     additive upper bounds) never surface — exactly the reference's
  *     index-then-refilter contract. Filters outside the surface stay
  *     residual Spark filters.
  *   - '''Locality groups''' (`AccumuloClient.java:220-252`): families
  *     grouped per the table property; the row-id column cannot be in a
  *     locality group (`:231`); a projection fetches only the families
  *     its columns and predicates need — [[AccStore.familyCells]]
  *     counts per-family cell fetches, and the suite locks that the
  *     untouched group reads ZERO cells.
  *   - '''Writes are Accumulo mutations''' (`io/AccumuloPageSink
  *     .java:142-170`): row ID from the row_id column (default: the
  *     FIRST column, `AccumuloClient.getRowIdColumn:280-284`),
  *     overwrite-by-key semantics so task retries are idempotent, and
  *     every write feeds the `Indexer` (index entries + cardinality
  *     metrics + first/last row).
  *
  * Session knobs carry `conf/AccumuloSessionProperties.java:55-110`
  * names and defaults: optimize_index_enabled=true,
  * index_rows_per_split=10000, index_threshold=0.2,
  * index_lowest_cardinality_threshold=0.01, index_metrics_enabled=true,
  * optimize_split_ranges_enabled=true.
  *
  * Scale stance: the in-process store stands in for the tablet servers;
  * the connector layer — cardinality-driven index-vs-scan choice,
  * binned index splits, tablet-boundary scan splits, store-side
  * filtering, locality-group pruning — is the real contract and fans
  * out one task per tablet/bin on a cluster.
  */
object AccStore {

  final case class ColumnDef(name: String, family: String, dt: DataType,
      indexed: Boolean)

  /** Order-preserving row-id encoding — the Lexicoder contract: the
    * encoded STRING sort order equals the value order. */
  def encodeKey(v: Any): String = v match {
    case s: String => "s" + s
    case u: UTF8String => "s" + u.toString
    case l: Long =>
      val u = l ^ Long.MinValue // flip sign bit: unsigned order == signed
      val s = java.lang.Long.toUnsignedString(u)
      "l" + ("0" * (20 - s.length)) + s
    case i: Int => encodeKey(i.toLong)
    case other => sys.error(s"graft-accumulo: unsupported row-id $other")
  }

  private[sources] final class AccRow(val rowId: Any,
      val families: Map[String, Map[String, Any]])

  /** Index keys of one column in its value order (typed, like the
    * reference's per-type Lexicoders). */
  private def keyComparator(dt: DataType): Comparator[AnyRef] =
    Domain.ordering(dt).asInstanceOf[Comparator[AnyRef]]

  final class AccTable(
      val name: String,
      val rowIdCol: String,
      val rowIdType: DataType,
      val columns: Seq[ColumnDef],
      val localityGroups: Map[String, Set[String]]) {

    // the data table: encoded row id -> row, SORTED (tablet order)
    private[sources] val rows = new ConcurrentSkipListMap[String, AccRow]()
    // the <table>_idx analog: column -> value -> row ids
    // (`Indexer.getIndexTableName:431`; append-only like the Indexer)
    private[sources] val index: Map[String, ConcurrentSkipListMap[AnyRef, ConcurrentSkipListSet[String]]] =
      columns.filter(_.indexed).map(c =>
        c.name -> new ConcurrentSkipListMap[AnyRef, ConcurrentSkipListSet[String]](
          keyComparator(c.dt))).toMap
    // the <table>_idx_metrics analog: per-value cardinalities +
    // ___rows___ count + first/last row (additive, like the Indexer's
    // metrics mutations — upper bounds after overwrites)
    private[sources] val cardinality: Map[String, ConcurrentHashMap[AnyRef, AtomicLong]] =
      columns.filter(_.indexed).map(c =>
        c.name -> new ConcurrentHashMap[AnyRef, AtomicLong]()).toMap
    private[sources] val numRowsMetric = new AtomicLong(0L)
    @volatile private[sources] var firstRow: Option[String] = None
    @volatile private[sources] var lastRow: Option[String] = None
    // tablet boundaries over encoded row ids (TableOperations.addSplits)
    @volatile private[sources] var splitPoints: Vector[String] = Vector.empty

    private[sources] val colByName: Map[String, ColumnDef] =
      columns.map(c => c.name -> c).toMap

    // r18 OPT: the mutation layout is static per table — precompute it
    // once instead of re-deriving (groupBy allocation) per written row
    private[sources] val famCols: Array[(String, Array[ColumnDef])] =
      columns.groupBy(_.family).map { case (f, cs) =>
        (f, cs.toArray)
      }.toArray
    private[sources] val indexedCols: Array[ColumnDef] =
      columns.filter(_.indexed).toArray
  }

  private[graft] val tables = new ConcurrentHashMap[String, AccTable]()

  /** Per-(table, family) data cells fetched — the locality-group
    * pruning proof the suite locks. */
  val familyCells = new ConcurrentHashMap[(String, String), AtomicLong]()

  /** Candidate rows actually visited across all scans — an index scan's
    * count rises by its candidates, not the table size. */
  val rowsMaterialized = new AtomicLong(0L)

  /** Last planning decision per table ("index ..." / "tabletScan ...")
    * — surfaced for the suite, like the reference's planner debug log. */
  val lastPlan = new ConcurrentHashMap[String, String]()

  def create(name: String, rowId: (String, DataType),
      columns: Seq[(String, String, DataType)], indexed: Set[String],
      localityGroups: Map[String, Seq[String]] = Map.empty): Unit = {
    (rowId._2 +: columns.map(_._3)).foreach { dt =>
      require(dt == StringType || dt == LongType || dt == DoubleType ||
        dt == BooleanType,
        s"graft-accumulo: unsupported type ${dt.catalogString}")
    }
    // locality groups are declared over COLUMNS and resolve to their
    // families (`AccumuloClient.java:220-252` + `:345-360`); the row-id
    // column cannot be in one (`:231`)
    localityGroups.foreach { case (g, members) =>
      require(!members.contains(rowId._1),
        "graft-accumulo: Row ID column cannot be in a locality group")
      members.foreach(c => require(columns.exists(_._1 == c),
        s"graft-accumulo: Unknown column '$c' in locality group '$g'"))
    }
    indexed.foreach(c => require(columns.exists(_._1 == c),
      s"graft-accumulo: indexed column '$c' is not a column"))
    val defs = columns.map { case (n, fam, dt) =>
      ColumnDef(n, fam, dt, indexed.contains(n))
    }
    val famOf = columns.map(c => c._1 -> c._2).toMap
    tables.put(name, new AccTable(name, rowId._1, rowId._2, defs,
      localityGroups.view.mapValues(_.map(famOf).toSet).toMap))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): AccTable = {
    val t = tables.get(name)
    require(t != null, s"graft-accumulo: unknown table '$name'")
    t
  }

  /** Tablet boundaries (TableOperations.addSplits analog): each point
    * ends a tablet — a full scan plans one split per tablet. */
  def addSplits(name: String, points: Seq[Any]): Unit = {
    val t = table(name)
    t.splitPoints =
      (t.splitPoints ++ points.map(encodeKey)).distinct.sorted
  }

  /** One mutation through the `AccumuloPageSink.toMutation` +
    * `Indexer` path: overwrite the row by key, append index entries and
    * metrics. Stale index entries for an overwritten row are NOT
    * removed (the Indexer is append-only) — the scan-side re-filter
    * hides them, and metrics stay additive upper bounds. */
  def put(name: String, values: Map[String, Any]): Unit = {
    val t = table(name)
    val rowIdVal = values.getOrElse(t.rowIdCol,
      sys.error(s"graft-accumulo: missing row id '${t.rowIdCol}'"))
    require(rowIdVal != null, "graft-accumulo: null row id")
    val key = encodeKey(rowIdVal)
    // r18 OPT: flat loops over the precomputed layout — the former
    // per-row groupBy/flatMap re-derived the static family layout and
    // allocated intermediate collections for every mutation
    var fams = Map.empty[String, Map[String, Any]]
    var i = 0
    while (i < t.famCols.length) {
      val (fam, cols) = t.famCols(i)
      var cm = Map.empty[String, Any]
      var j = 0
      while (j < cols.length) {
        val v = values.getOrElse(cols(j).name, null)
        if (v != null) cm = cm.updated(cols(j).name, v)
        j += 1
      }
      fams = fams.updated(fam, cm)
      i += 1
    }
    t.rows.put(key, new AccRow(rowIdVal, fams))
    i = 0
    while (i < t.indexedCols.length) {
      val c = t.indexedCols(i)
      val v = values.getOrElse(c.name, null)
      if (v != null) {
        val vk = v.asInstanceOf[AnyRef]
        t.index(c.name)
          .computeIfAbsent(vk, _ => new ConcurrentSkipListSet[String]())
          .add(key)
        t.cardinality(c.name)
          .computeIfAbsent(vk, _ => new AtomicLong(0L)).incrementAndGet()
      }
      i += 1
    }
    t.numRowsMetric.incrementAndGet()
    // volatile pre-check keeps concurrent writers off the lock on the
    // (vastly common) rows that move neither boundary
    if (t.firstRow.forall(_ > key) || t.lastRow.forall(_ < key))
      t.synchronized {
        if (t.firstRow.forall(_ > key)) t.firstRow = Some(key)
        if (t.lastRow.forall(_ < key)) t.lastRow = Some(key)
      }
  }

  private[sources] def countCells(name: String, family: String,
      n: Long): Unit =
    familyCells.computeIfAbsent((name, family), _ => new AtomicLong(0L))
      .addAndGet(n)

  def cellsFetched(name: String, family: String): Long = {
    val c = familyCells.get((name, family))
    if (c == null) 0L else c.get()
  }

  /** The metrics table's `___rows___` count (additive upper bound). */
  def metricRowCount(name: String): Long = table(name).numRowsMetric.get()

  /** The metrics table's first/last row entries (encoded keys). */
  def firstLastRow(name: String): (Option[String], Option[String]) = {
    val t = table(name); (t.firstRow, t.lastRow)
  }

  // ---- the pushed-constraint surface -------------------------------

  /** An encoded-row-id range (Accumulo `Range`). */
  final case class KeyRange(lo: Option[String], loInc: Boolean,
      hi: Option[String], hiInc: Boolean) {
    def contains(k: String): Boolean =
      lo.forall(l => if (loInc) k >= l else k > l) &&
        hi.forall(h => if (hiInc) k <= h else k < h)
  }
  val FullRange: KeyRange = KeyRange(None, false, None, false)

  /** The encoded-row-id ranges of a row-id domain; the full range when
    * the row id is unconstrained. */
  private[sources] def keyRanges(rowId: Option[Domain]): Seq[KeyRange] =
    rowId.fold(Seq(FullRange))(_.ranges.map(r => KeyRange(
      r.lo.map(b => encodeKey(b.value)), r.lo.exists(_.inclusive),
      r.hi.map(b => encodeKey(b.value)), r.hi.exists(_.inclusive))))

  /** The index entries of `column` whose values `d` holds
    * (`AccumuloColumnConstraint`'s value ranges). */
  private def indexEntries(t: AccTable, column: String, d: Domain)
      : Seq[java.util.NavigableMap[AnyRef, ConcurrentSkipListSet[String]]] =
    d.ranges.map { r =>
      var sub: java.util.NavigableMap[AnyRef, ConcurrentSkipListSet[String]] =
        t.index(column)
      r.lo.foreach(b => sub = sub.tailMap(b.value.asInstanceOf[AnyRef], b.inclusive))
      r.hi.foreach(b => sub = sub.headMap(b.value.asInstanceOf[AnyRef], b.inclusive))
      sub
    }

  /** Row IDs matching one indexed column's domain, from the index table
    * and restricted to the row-id ranges (`IndexLookup.getIndexRanges`'s
    * inRange check). */
  private[sources] def indexRowIds(t: AccTable, column: String, d: Domain,
      rowRanges: Seq[KeyRange]): collection.SortedSet[String] = {
    val out = mutable.SortedSet.empty[String]
    indexEntries(t, column, d).foreach(_.values().forEach(_.forEach(k =>
      if (rowRanges.exists(_.contains(k))) out += k)))
    out
  }

  /** Cardinality of one indexed column's domain from the metrics table
    * (`ColumnCardinalityCache` reads the same per-value counters). */
  private[sources] def metricCardinality(t: AccTable, column: String,
      d: Domain): Long = {
    val cards = t.cardinality(column)
    var n = 0L
    indexEntries(t, column, d).foreach(_.keySet().forEach { k =>
      val a = cards.get(k); if (a != null) n += a.get()
    })
    n
  }
}

class AccumuloKvProvider extends ConnectorProvider("graft-accumulo") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new AccumuloKvTable(options)
}

object AccumuloKvTable {
  def schemaOf(options: CaseInsensitiveStringMap): StructType =
    schemaOf(AccStore.table(Connector.option(options, "graft-accumulo",
      "table")))

  def schemaOf(t: AccStore.AccTable): StructType =
    StructType(StructField(t.rowIdCol, t.rowIdType) +:
      t.columns.map(c => StructField(c.name, c.dt)))
}

class AccumuloKvTable(options: CaseInsensitiveStringMap)
    extends ReadTable with SupportsWrite {

  private val tableName = options.get("table")

  override def name(): String = s"graft-accumulo.$tableName"
  override def schema(): StructType = AccumuloKvTable.schemaOf(options)
  override protected def moreCapabilities: Seq[TableCapability] =
    Seq(TableCapability.BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AccScanBuilder(tableName, schema(), o)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AccWriteBuilder(tableName, info.schema())
}

/** Pushes the filters whose [[TupleDomain]] is on table columns; the
  * row id's domain becomes row-id ranges. Pushed filters are FULLY
  * enforced store-side (the filter-iterator analog re-applies the
  * domain to every candidate row), so they are not residual; anything
  * else stays a Spark filter. */
class AccScanBuilder(tableName: String, full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val t = AccStore.table(tableName)
  private var pushed: Array[Filter] = Array.empty
  private var domain = TupleDomain.All
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (taken, d) = TupleDomain.push(filters, TupleDomain.types(full)) {
      // row ids are never null, and encode only as strings and bigints
      (c, d) => c != t.rowIdCol || (!d.nullAllowed &&
        (t.rowIdType == StringType || t.rowIdType == LongType))
    }
    pushed = taken
    domain = d
    filters.filterNot(taken.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new AccScan(tableName, domain, required, pushed, options)
}

/** What every split of one scan reads: the pruned columns, and the
  * static domain re-applied to each candidate row (the filter-iterator
  * analog). */
final case class AccRead(required: StructType, domain: TupleDomain)

sealed trait AccSplit extends ConnectorSplit {
  def table: String
  def read: AccRead

  /** The (row id, row) pairs this split visits. */
  private[sources] def candidates(t: AccStore.AccTable)
      : Iterator[(String, AccStore.AccRow)]

  override def rows(): Iterator[InternalRow] = {
    import AccStore._
    val AccRead(required, domain) = read
    val tableName = this.table
    val t = AccStore.table(tableName)
    val candidates = this.candidates(t)
    // families this task touches: required columns + constraint columns
    // (locality-group pruning — untouched groups read zero cells)
    val neededCols = (required.fieldNames.toSet ++
      domain.domains.keySet) - t.rowIdCol
    val neededFams = neededCols.map(c => t.colByName(c).family).toArray

    // r18 OPT: the per-row work below ran a type dispatch and map
    // lookups per cell per row, re-applied the (usually full) row-range
    // set per row, and bumped SHARED atomics per row — 32 concurrent
    // readers serializing on two counters. Everything resolvable from
    // the static scan description is now resolved ONCE per reader
    // (column matchers, field accessors), and the
    // proof counters accumulate in task-local longs flushed at
    // close(), so their totals are exact once the action completes.
    def colValue(row: AccStore.AccRow, col: String): Any =
      if (col == t.rowIdCol) row.rowId
      else {
        val fam = t.colByName(col).family
        row.families.getOrElse(fam, Map.empty).get(col).orNull
      }

    // the filter-iterator analog: re-apply the pushed domain — one
    // closure per column
    val consFns: Array[AccStore.AccRow => Boolean] =
      domain.domains.toArray.map { case (name, d) =>
        (r: AccStore.AccRow) => d.contains(colValue(r, name))
      }

    def matches(row: AccStore.AccRow): Boolean = {
      var i = 0
      while (i < consFns.length) {
        if (!consFns(i)(row)) return false
        i += 1
      }
      true
    }

    // per-field accessor+converter, resolved once
    val fieldFns: Array[AccStore.AccRow => Any] = required.fields.map { f =>
      val get: AccStore.AccRow => Any =
        if (f.name == t.rowIdCol) r => r.rowId
        else {
          val fam = t.colByName(f.name).family
          val nm = f.name
          r => r.families.getOrElse(fam, Map.empty).get(nm).orNull
        }
      f.dataType match {
        case StringType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null else UTF8String.fromString(v.toString)
        }
        case LongType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null
          else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
        }
        case DoubleType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null
          else java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
        }
        case BooleanType => get
        case other => sys.error(s"graft-accumulo: bad type $other")
      }
    }

    var localMaterialized = 0L
    val localCells = new Array[Long](neededFams.length)
    val hits = candidates.filter { case (_, row) =>
      localMaterialized += 1L
      matches(row)
    }

    new ClosingRows(hits.map { case (_, row) =>
      var i = 0
      while (i < neededFams.length) {
        localCells(i) +=
          row.families.getOrElse(neededFams(i), Map.empty).size.toLong
        i += 1
      }
      val out = new Array[Any](fieldFns.length)
      i = 0
      while (i < fieldFns.length) { out(i) = fieldFns(i)(row); i += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }, () => {
      AccStore.rowsMaterialized.addAndGet(localMaterialized)
      localMaterialized = 0L
      var i = 0
      while (i < neededFams.length) {
        if (localCells(i) > 0)
          AccStore.countCells(tableName, neededFams(i), localCells(i))
        localCells(i) = 0L
        i += 1
      }
    })
  }
}

/** A bin of index-determined row IDs (`IndexLookup.binRanges`). */
final case class AccIndexSplit(table: String, rowIds: Array[String],
    read: AccRead) extends AccSplit {
  override private[sources] def candidates(t: AccStore.AccTable)
      : Iterator[(String, AccStore.AccRow)] =
    rowIds.iterator.flatMap(k => Option(t.rows.get(k)).map(k -> _))
}

/** One tablet's slice of a row-id range scan
  * (`AccumuloClient.splitByTabletBoundaries`). */
final case class AccRangeSplit(table: String, range: AccStore.KeyRange,
    read: AccRead) extends AccSplit {
  override private[sources] def candidates(t: AccStore.AccTable)
      : Iterator[(String, AccStore.AccRow)] = {
    var sub: java.util.concurrent.ConcurrentNavigableMap[String, AccStore.AccRow] = t.rows
    range.lo.foreach(l => sub = sub.tailMap(l, range.loInc))
    range.hi.foreach(h => sub = sub.headMap(h, range.hiInc))
    sub.entrySet().iterator().asScala.map(e => e.getKey -> e.getValue)
  }
}

class AccScan(tableName: String, domain: TupleDomain, required: StructType,
    pushedFilters: Array[Filter], options: CaseInsensitiveStringMap)
    extends ConnectorScan(required)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  import AccStore._

  private val t = AccStore.table(tableName)
  private val read = AccRead(required, domain)

  /** RUNTIME split pruning (Spark's dynamic-pruning hook for DSv2,
    * SPARK-35779): a join's build-side key values arrive as In/EqualTo
    * filters after the build side executes. Row-id values intersect
    * the row-range set (point lookups chopped on tablet boundaries —
    * the dynamic counterpart of the row-id-range arm); values on
    * INDEXED columns join the constraint set and ride the SAME
    * `IndexLookup.applyIndex` decision tree as planning-time
    * predicates, so a selective join probes the secondary index's
    * rowId sets instead of scanning tablets. Readers keep the STATIC
    * constraint set — pruning is an I/O optimization, the join
    * re-applies exact semantics ([[AccStore.rowsMaterialized]] counts
    * the saved volume). */
  @volatile private var runtimeDomain = TupleDomain.All

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (t.rowIdCol +: t.columns.filter(_.indexed).map(_.name))
      .distinct
      // only columns in the pruned read schema: Spark resolves these
      // against the scan's OUTPUT and errors on a pruned-away column
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    val attributes = filterAttributes().map(_.fieldNames().head).toSet
    runtimeDomain = TupleDomain.push(filters,
      TupleDomain.types(AccumuloKvTable.schemaOf(t))) {
      (c, d) => attributes(c) && d.values.isDefined
    }._2
  }

  // AccumuloSessionProperties names and defaults (`:55-110`)
  private def boolOpt(k: String, d: Boolean) =
    Option(options.get(k)).map(_.toBoolean).getOrElse(d)
  private val optimizeIndex = boolOpt("optimize_index_enabled", true)
  private val metricsEnabled = boolOpt("index_metrics_enabled", true)
  private val splitRangesEnabled =
    boolOpt("optimize_split_ranges_enabled", true)
  private val rowsPerSplit =
    Option(options.get("index_rows_per_split")).map(_.toInt).getOrElse(10000)
  private val indexThreshold =
    Option(options.get("index_threshold")).map(_.toDouble).getOrElse(0.2)
  private val smallCardThreshold =
    Option(options.get("index_lowest_cardinality_threshold"))
      .map(_.toDouble).getOrElse(0.01)

  override def description(): String =
    s"graft-accumulo $tableName " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}] " +
      s"plan=${AccStore.lastPlan.getOrDefault(tableName, "?")} cols=" +
      required.fieldNames.mkString(",")

  /** The `AccumuloClient.getTabletSplits:652-715` decision tree. */
  private def computePlanned(d: TupleDomain): Array[InputPartition] = {
    val rr = keyRanges(d.get(t.rowIdCol))
    // value sets only: IS [NOT] NULL is not an index lookup
    val indexed = d.domains.toSeq.filter { case (c, cd) =>
      t.colByName.get(c).exists(_.indexed) && !cd.nullAllowed && !cd.isNotNull
    }
    val (viaIndex, decision): (Option[Array[InputPartition]], String) =
      if (!optimizeIndex || indexed.isEmpty)
        (None, "tabletScan(noIndexedConstraint)")
      else if (!metricsEnabled) {
        // `IndexLookup.java:157-173`: no metrics — intersect and bin
        val sets = indexed.map { case (c, cd) => indexRowIds(t, c, cd, rr) }
        val hits = sets.reduceLeft((a, b) => a.intersect(b))
        (Some(bin(hits)), s"index(noMetrics,${hits.size})")
      }
      else {
        val numRows = math.max(t.numRowsMetric.get(), 1L)
        val byCard = indexed.map { case (c, cd) =>
          metricCardinality(t, c, cd) -> (c, cd)
        }.sortBy(_._1)
        val (lowestCard, (lowestC, lowestD)) = byCard.head
        // which row-id set to consider, per
        // `IndexLookup.getRangesWithMetrics:225-261`
        val hitsOpt: Option[(collection.SortedSet[String], String)] =
          if (lowestCard.toDouble / numRows <= smallCardThreshold)
            // under the lowest-cardinality threshold: that column ALONE
            Some((indexRowIds(t, lowestC, lowestD, rr),
              s"lowCard($lowestC)"))
          else if (indexed.size == 1 &&
            lowestCard.toDouble / numRows >= indexThreshold)
            None // single column already over the threshold (`:240-247`)
          else {
            val sets = indexed.map { case (c, cd) => indexRowIds(t, c, cd, rr) }
            Some((sets.reduceLeft((a, b) => a.intersect(b)), "intersect"))
          }
        hitsOpt match {
          case None =>
            (None, s"tabletScan(cardOverThreshold,$lowestCard/$numRows)")
          case Some((hits, how)) =>
            // final ratio check + binning (`IndexLookup.java:268-285`)
            val ratio = hits.size.toDouble / numRows
            if (ratio < indexThreshold)
              (Some(bin(hits)), s"index($how,${hits.size}/$numRows)")
            else
              (None, s"tabletScan(ratio,${hits.size}/$numRows)")
        }
      }
    AccStore.lastPlan.put(tableName, decision)
    viaIndex.getOrElse(tabletScan(rr))
  }

  // stats report the STATIC plan (runtime filters arrive later);
  // execution re-plans with whatever runtime values Spark handed over
  private lazy val planned: Array[InputPartition] = computePlanned(domain)

  private def bin(hits: collection.SortedSet[String])
      : Array[InputPartition] =
    hits.toArray.grouped(math.max(rowsPerSplit, 1))
      .map(g => AccIndexSplit(tableName, g, read): InputPartition).toArray

  private def tabletScan(rr: Seq[KeyRange]): Array[InputPartition] = {
    // split each row-id range on tablet boundaries (`:756`)
    val pieces =
      if (!splitRangesEnabled) rr
      else rr.flatMap { r =>
        val cuts = t.splitPoints.filter(p =>
          r.lo.forall(l => p > l) && r.hi.forall(h => p < h))
        // walk [lo, cut1], (cut1, cut2], ..., (cutN, hi]
        var lo = r.lo; var loInc = r.loInc
        val out = mutable.ArrayBuffer.empty[KeyRange]
        cuts.foreach { c =>
          out += KeyRange(lo, loInc, Some(c), true)
          lo = Some(c); loInc = false
        }
        out += KeyRange(lo, loInc, r.hi, r.hiInc)
        out.toSeq
      }
    pieces.map(p => AccRangeSplit(tableName, p, read): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeDomain == TupleDomain.All) planned
    else computePlanned(domain.intersect(runtimeDomain))

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = planned.map {
      case AccIndexSplit(_, ids, _) => ids.length.toLong
      case AccRangeSplit(_, r, _) =>
        var n = 0L
        val it = t.rows.keySet().iterator()
        while (it.hasNext) { if (r.contains(it.next())) n += 1 }
        n
    }.sum
    ScanStats(rows, rows * 128L)
  }
}

/** `AccumuloPageSink` analog: rows become overwrite-by-key mutations
  * through the Indexer, so task retries are idempotent. */
class AccWriteBuilder(tableName: String, schema: StructType)
    extends WriteBuilder {

  override def build(): Write = new Write {
    val t = AccStore.table(tableName)
    // plan-time schema validation: row id present + types line up
    require(schema.fieldNames.contains(t.rowIdCol),
      s"graft-accumulo: write schema is missing row id '${t.rowIdCol}'")
    schema.fields.foreach { f =>
      val expected =
        if (f.name == t.rowIdCol) t.rowIdType
        else t.colByName.getOrElse(f.name,
          sys.error(s"graft-accumulo: unknown column '${f.name}'")).dt
      require(f.dataType == expected,
        s"graft-accumulo: column '${f.name}' is ${f.dataType.catalogString}, " +
          s"table has ${expected.catalogString}")
    }
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : DataWriterFactory = new AccWriterFactory(tableName, schema)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

class AccWriterFactory(tableName: String, schema: StructType)
    extends DataWriterFactory with Serializable {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    override def write(record: InternalRow): Unit = {
      val values = schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> (if (record.isNullAt(i)) null
        else f.dataType match {
          case StringType => record.getUTF8String(i).toString
          case LongType => java.lang.Long.valueOf(record.getLong(i))
          case DoubleType => java.lang.Double.valueOf(record.getDouble(i))
          case BooleanType => java.lang.Boolean.valueOf(record.getBoolean(i))
          case other => sys.error(s"graft-accumulo: bad type $other")
        })
      }.toMap
      AccStore.put(tableName, values)
    }
    override def commit(): WriterCommitMessage =
      new WriterCommitMessage {}
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
