package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Thrift-shaped service-delegation connector — the Spark-native
  * re-expression of the reference's generic Thrift connector
  * (`presto-thrift-connector/src/main/java/com/facebook/presto/
  * connector/thrift/ThriftConnectorFactory.java` over the
  * `presto-thrift-connector-api` service interface), tenth and final
  * application of the documented in-process-substitution pattern —
  * and the one where delegation IS the mechanic: the connector owns
  * NOTHING (no schema, no splits, no rows); an external service
  * implementing `PrestoThriftService` provides all of it over RPC.
  *
  * DOCUMENTED SUBSTITUTION: no Thrift RPC runtime exists in this
  * zero-egress distribution, so the wire half is a JVM-wide service
  * REGISTRY ([[ThriftRegistry]]) holding implementations of
  * [[GraftThriftService]] — a faithful Scala rendering of
  * `PrestoThriftService.java:30-121`'s five methods. EVERYTHING above
  * the socket keeps the reference's contracts:
  *
  *   - '''Paged split discovery''' (`getSplits(..., maxSplitCount,
  *     nextToken)` + `ThriftSplitManager.ThriftSplitSource
  *     .getNextBatch:132-152`): planning drains split BATCHES from the
  *     service with a continuation token until the service returns a
  *     null token; each split is an OPAQUE byte id the connector never
  *     interprets (plus optional preferred hosts).
  *   - '''Paged row retrieval''' (`getRows(splitId, columns, maxBytes,
  *     nextToken):114-121`): each task pages through its split with
  *     the response-size cap (the reference's max-response-size knob,
  *     default 16MB, `ThriftConnectorConfig:28`) and a continuation
  *     token until null.
  *   - '''Column selection through the RPC''': the pruned column list
  *     travels in `desiredColumns` (getSplits) and `columns` (getRows)
  *     — the service materializes only what was asked for.
  *   - '''Constraints are ADVISORY''': the reference's ThriftMetadata
  *     returns the constraint UNENFORCED (the remote service may
  *     reduce the scan but promises nothing), so the connector
  *     forwards the eq/range filters' [[TupleDomain]] (the
  *     `PrestoThriftTupleDomain`) as a hint and Spark ALWAYS keeps its
  *     own filter — the suite locks exactness even against a
  *     service that applies the hint only partially.
  *
  * Scale stance: the split-batch token loop is driver-side metadata
  * (bounded batches, like the reference's split source); row paging
  * runs inside each task, one task per service-provided split, so the
  * fan-out is whatever the remote service reports — the contract that
  * lets a thrift-backed system scale without the connector knowing how.
  */
object ThriftApi {

  /** One batch of splits + the continuation token (`PrestoThriftSplit
    * Batch`); a null token ends the drain loop. */
  final case class SplitBatch(splitIds: Seq[Array[Byte]],
      hosts: Seq[Seq[String]], nextToken: Option[Array[Byte]])

  /** One page of rows + the continuation token
    * (`PrestoThriftPageResult.java:43-52`). */
  final case class RowsPage(rows: Seq[Seq[Any]],
      nextToken: Option[Array[Byte]])
}

/** `PrestoThriftService.java:30-121`, rendered in Scala. Implementors
  * are external systems; the connector only speaks this interface. */
trait GraftThriftService {
  import ThriftApi._
  def listSchemaNames(): Seq[String]
  def listTables(schemaOrNull: Option[String]): Seq[(String, String)]
  def getTableMetadata(schema: String, table: String): StructType
  def getSplits(schema: String, table: String,
      desiredColumns: Option[Seq[String]], constraint: TupleDomain,
      maxSplitCount: Int, nextToken: Option[Array[Byte]]): SplitBatch
  def getRows(splitId: Array[Byte], columns: Seq[String],
      maxBytes: Long, nextToken: Option[Array[Byte]]): RowsPage
}

object ThriftRegistry {
  private[graft] val services =
    new ConcurrentHashMap[String, GraftThriftService]()

  /** Calls observed per method — the paging-contract proof the suite
    * locks (split batches drained N times, rows paged M times). */
  val splitCalls = new AtomicLong(0L)
  val rowsCalls = new AtomicLong(0L)

  def register(name: String, svc: GraftThriftService): Unit =
    services.put(name, svc)
  def drop(name: String): Unit = services.remove(name)

  private[sources] def service(name: String): GraftThriftService = {
    val s = services.get(name)
    require(s != null, s"graft-thrift: unknown service '$name'")
    s
  }
}

class ThriftSvcProvider extends ConnectorProvider("graft-thrift") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new ThriftSvcTable(options)
}

object ThriftSvcTable {
  def schemaOf(options: CaseInsensitiveStringMap): StructType = {
    val svc = options.get("service"); val schema = options.get("schema")
    val table = options.get("table")
    require(svc != null && schema != null && table != null,
      "graft-thrift requires options 'service', 'schema', 'table'")
    val st = ThriftRegistry.service(svc).getTableMetadata(schema, table)
    st.fields.foreach(f => require(
      f.dataType == StringType || f.dataType == LongType ||
        f.dataType == DoubleType || f.dataType == BooleanType,
      s"graft-thrift: unsupported type ${f.dataType.catalogString}"))
    st
  }
}

class ThriftSvcTable(options: CaseInsensitiveStringMap) extends ReadTable {

  override def name(): String =
    s"graft-thrift.${options.get("service")}." +
      s"${options.get("schema")}.${options.get("table")}"
  override def schema(): StructType = ThriftSvcTable.schemaOf(options)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ThriftScanBuilder(options.get("service"), options.get("schema"),
      options.get("table"), schema(),
      Option(options.get("max_split_count")).map(_.toInt).getOrElse(100),
      Option(options.get("max_response_bytes")).map(_.toLong)
        .getOrElse(16L * 1024 * 1024)) // ThriftConnectorConfig default
}

/** Builds the advisory constraint hint from the `=`, `IN` and range
  * filters. CRUCIALLY, every filter stays
  * RESIDUAL (returned back to Spark): the reference's thrift metadata
  * reports the constraint unenforced, so correctness never depends on
  * the remote service honoring the hint. */
class ThriftScanBuilder(svc: String, schemaName: String, tableName: String,
    full: StructType, maxSplitCount: Int, maxBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var hints = 0
  private var constraint = TupleDomain.All
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (hinted, d) = TupleDomain.push(filters, TupleDomain.types(full)) {
      (_, d) => d.values.isDefined || d.interval.isDefined
    }
    hints = hinted.length
    constraint = d
    filters // ALL residual — the hint is advisory, never enforced
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ThriftScan(svc, schemaName, tableName, constraint, hints, required,
      maxSplitCount, maxBytes)
}

final case class ThriftSplit(svc: String, splitId: Array[Byte],
    hosts: Seq[String], required: StructType, maxBytes: Long)
    extends ConnectorSplit {
  override def preferredLocations(): Array[String] = hosts.toArray

  override def rows(): Iterator[InternalRow] = {
    val service = ThriftRegistry.service(svc)
    val columns = required.fieldNames.toSeq

    // the getRows paging loop (`:114-121`): maxBytes-capped pages
    // chained by continuation token
    val rows: Iterator[Seq[Any]] = new Iterator[Seq[Any]] {
      private var page: ThriftApi.RowsPage = _
      private var i = 0
      private var exhausted = false
      private def advance(): Unit = {
        while (!exhausted && (page == null || i >= page.rows.length)) {
          if (page != null && page.nextToken.isEmpty) { exhausted = true }
          else {
            ThriftRegistry.rowsCalls.incrementAndGet()
            page = service.getRows(splitId, columns, maxBytes,
              Option(page).flatMap(_.nextToken))
            i = 0
            if (page.rows.isEmpty && page.nextToken.isEmpty)
              exhausted = true
          }
        }
      }
      override def hasNext: Boolean = { advance(); !exhausted }
      override def next(): Seq[Any] = { advance(); val r = page.rows(i); i += 1; r }
    }

    rows.map { r =>
      require(r.length == required.fields.length,
        "graft-thrift: service returned a row of the wrong width")
      InternalRow.fromSeq(r.zip(required.fields.toSeq).map {
        case (null, _) => null
        case (v, f) => f.dataType match {
          case StringType => UTF8String.fromString(v.toString)
          case LongType => v.asInstanceOf[Number].longValue()
          case DoubleType => v.asInstanceOf[Number].doubleValue()
          case BooleanType => v.asInstanceOf[Boolean]
          case other => sys.error(s"graft-thrift: bad type $other")
        }
      })
    }
  }
}

/** `hints` counts the filters `constraint` summarizes. */
class ThriftScan(svc: String, schemaName: String, tableName: String,
    constraint: TupleDomain, hints: Int, required: StructType,
    maxSplitCount: Int, maxBytes: Long) extends ConnectorScan(required) {

  override def description(): String =
    s"graft-thrift $schemaName.$tableName hints=$hints cols=" +
      required.fieldNames.mkString(",")

  /** The `ThriftSplitSource.getNextBatch:132-152` drain loop: batches
    * of at most maxSplitCount splits, chained by continuation token
    * until the service returns none. */
  override def planInputPartitions(): Array[InputPartition] = {
    val service = ThriftRegistry.service(svc)
    val out = Seq.newBuilder[InputPartition]
    var token: Option[Array[Byte]] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      ThriftRegistry.splitCalls.incrementAndGet()
      val batch = service.getSplits(schemaName, tableName,
        Some(required.fieldNames.toSeq), constraint, maxSplitCount, token)
      require(batch.splitIds.size <= maxSplitCount,
        "graft-thrift: service returned more splits than maxSplitCount")
      batch.splitIds.zipWithIndex.foreach { case (id, i) =>
        out += ThriftSplit(svc, id,
          if (i < batch.hosts.size) batch.hosts(i) else Seq.empty,
          required, maxBytes)
      }
      token = batch.nextToken
    }
    out.result().toArray
  }
}

/** A ready-made in-memory service implementation — what the
  * `presto-thrift-testing-server` is to the reference: holds tables as
  * row vectors, honors paging/columns, and applies the value domains of
  * the advisory hint only when `applyHints` (to exercise both service
  * behaviors). */
final class InMemoryThriftService(schemaName: String,
    rowsPerSplit: Int = 1000, applyHints: Boolean = true)
    extends GraftThriftService {

  import ThriftApi._

  private val tables =
    new ConcurrentHashMap[String, (StructType, Vector[Seq[Any]])]()

  def putTable(table: String, schema: StructType,
      rows: Seq[Seq[Any]]): Unit =
    tables.put(table, (schema, rows.toVector))

  override def listSchemaNames(): Seq[String] = Seq(schemaName)

  override def listTables(schemaOrNull: Option[String])
      : Seq[(String, String)] =
    if (schemaOrNull.forall(_ == schemaName))
      tables.keySet().toArray(Array.empty[String]).toSeq.sorted
        .map(schemaName -> _)
    else Seq.empty

  override def getTableMetadata(schema: String, table: String): StructType = {
    require(schema == schemaName, s"unknown schema '$schema'")
    val t = tables.get(table)
    require(t != null, s"unknown table '$table'")
    t._1
  }

  private def filtered(table: String, constraint: TupleDomain)
      : Vector[Seq[Any]] = {
    val (schema, rows) = tables.get(table)
    // partial application only: ranges are left to the engine
    val values = constraint.domains.filter(_._2.values.isDefined)
    if (!applyHints || values.isEmpty) rows
    else {
      val idx = schema.fieldNames.zipWithIndex.toMap
      rows.filter(r => TupleDomain(values).matches(c => r(idx(c))))
    }
  }

  override def getSplits(schema: String, table: String,
      desiredColumns: Option[Seq[String]], constraint: TupleDomain,
      maxSplitCount: Int, nextToken: Option[Array[Byte]]): SplitBatch = {
    // plan splits over the hint-filtered view and remember it under the
    // hint hash so getRows pages the same view (a real service plans
    // its scan once and serves it split by split)
    val view = filtered(table, constraint)
    hintViews.put(s"$table|${constraint.hashCode}", view)
    val total = view.length
    val nSplits = (total + rowsPerSplit - 1) / rowsPerSplit
    val from = nextToken.map(new String(_).toInt).getOrElse(0)
    val until = math.min(from + maxSplitCount, nSplits)
    // splitId encodes (table, offset-range, hint hash) opaquely
    val hintKey = constraint.hashCode.toString
    val ids = (from until until).map(i =>
      s"$table|${i * rowsPerSplit}|${math.min((i + 1) * rowsPerSplit, total)}|$hintKey"
        .getBytes("UTF-8"))
    SplitBatch(ids, ids.map(_ => Seq.empty),
      if (until < nSplits) Some(until.toString.getBytes("UTF-8")) else None)
  }

  // hint-filtered row sets the splits were planned over, keyed by the
  // hint hash carried opaquely inside each split id
  private val hintViews =
    new ConcurrentHashMap[String, Vector[Seq[Any]]]()

  override def getRows(splitId: Array[Byte], columns: Seq[String],
      maxBytes: Long, nextToken: Option[Array[Byte]]): RowsPage = {
    val Array(table, fromS, untilS, hintKey) =
      new String(splitId, "UTF-8").split('|')
    val (schema, allRows) = tables.get(table)
    val rows = Option(hintViews.get(s"$table|$hintKey"))
      .getOrElse(allRows)
    val idx = schema.fieldNames.zipWithIndex.toMap
    val slice = rows.slice(fromS.toInt, untilS.toInt)
    val start = nextToken.map(new String(_).toInt).getOrElse(0)
    // ~128 bytes per cell estimate — the maxBytes page cap (a pruned
    // count-style read with zero columns still pages by row)
    val perPage =
      math.max(1, (maxBytes / (128L * math.max(columns.size, 1))).toInt)
    val end = math.min(start + perPage, slice.length)
    val page = slice.slice(start, end)
      .map(r => columns.map(c => r(idx(c))))
    RowsPage(page,
      if (end < slice.length) Some(end.toString.getBytes("UTF-8")) else None)
  }

  override def toString: String = s"InMemoryThriftService($schemaName)"
}
