package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The shared closed-form generator engine behind the `graft-tpch` and
  * `graft-tpcds` connectors (reference: `presto-tpch/.../TpchMetadata
  * .java`, `presto-tpcds/.../TpcdsMetadata.java` — both serve
  * deterministic generator tables through the same connector SPI).
  *
  * A [[ClosedFormGen]] describes a table family: row counts per scale
  * factor, schemas, a monotone primary key whose predicates prune
  * GENERATION (the reference's split pruning), and per-column
  * `row index → value` functions. The engine supplies the DataSource
  * V2 plumbing once: column pruning, key-range pushdown, key-range
  * splits (`parts` independent slices — a 1000-executor cluster hands
  * each task its contiguous range), and exact
  * SupportsReportStatistics so joins broadcast without hints.
  */
trait ClosedFormGen extends Serializable {
  /** connector short name, used in scan descriptions */
  def genName: String
  /** the family's table names, as its catalog lists them */
  def tables: Seq[String]
  def rowCount(table: String, sf: Double): Long
  /** monotone primary-key column; predicates on it prune generation */
  def keyColumn(table: String): String
  /** row index range [lo, hi) whose keys satisfy key ∈ [kLo, kHi] */
  def indexRangeForKeys(table: String, kLo: Long, kHi: Long, n: Long): (Long, Long)
  def schemaOf(table: String): StructType
  /** column generator: row index k → Catalyst value */
  def generator(table: String, column: String, sf: Double): Long => Any
}

/** `spark.read.format(gen.genName)` entry point: option `table`, plus
  * `sf` (default 0.01) and `parts` (default 8). */
abstract class GenProvider(gen: ClosedFormGen)
    extends ConnectorProvider(gen.genName) {
  override def table(options: CaseInsensitiveStringMap): Table =
    new GenTable(gen, Connector.option(options, gen.genName, "table")
      .toLowerCase, options.getDouble("sf", 0.01), options.getInt("parts", 8))
}

class GenTable(gen: ClosedFormGen, table: String, sf: Double, parts: Int)
    extends ReadTable {
  override def name(): String = s"${gen.genName}.$table(sf=$sf)"
  override def schema(): StructType = gen.schemaOf(table)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(gen, table, sf, parts)
}

/** The catalog face of a generator family — Presto's `tpch` / `tpcds`
  * catalog spelling verbatim (`presto-tpch/.../TpchMetadata.java`
  * schemas `tiny, sf1, sf100, ...`; `SELECT * FROM tpch.tiny.orders`):
  * a DataSource V2 TableCatalog whose namespaces are scale factors and
  * whose tables are the family's generators. Wired in Sessions.local by
  * class name, so the qualified SQL spelling resolves with no
  * registration step:
  * {{{ SELECT count(*) FROM graft_tpch.tiny.orders }}}
  *
  * Namespaces: `tiny` = sf 0.01 (the reference's convention) and
  * `sfN` for integer N (sf1, sf10, ...). Read-only — DDL against the
  * generator fails loudly, like the reference's generator connectors.
  */
abstract class GenCatalog(gen: ClosedFormGen)
    extends TableCatalog with SupportsNamespaces {

  private var catalogName = gen.genName.replace('-', '_')
  private val namedSfs = Seq("tiny", "sf1", "sf10", "sf100", "sf1000")

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name

  override def name(): String = catalogName

  private def sfOf(namespace: Array[String]): Option[Double] =
    namespace match {
      case Array("tiny") => Some(0.01)
      case Array(s) if s.matches("(?i)sf\\d+") => Some(s.drop(2).toDouble)
      case _ => None
    }

  private def ro = new UnsupportedOperationException(
    s"$catalogName is a read-only generator catalog")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(sfOf(namespace).isDefined,
      s"$catalogName: unknown schema ${namespace.mkString(".")}")
    gen.tables.map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val sf = sfOf(ident.namespace()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    if (!gen.tables.contains(ident.name().toLowerCase))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GenTable(gen, ident.name().toLowerCase, sf, 8)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = throw ro
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw ro
  override def dropTable(ident: Identifier): Boolean = throw ro
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw ro

  override def listNamespaces(): Array[Array[String]] =
    namedSfs.map(Array(_)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    sfOf(namespace).isDefined
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    require(sfOf(namespace).isDefined,
      s"$catalogName: unknown schema ${namespace.mkString(".")}")
    util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = throw ro
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw ro
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = throw ro
}

/** `graft_tpch`: the seven TPC-H generators (`tpch.tiny.orders`). */
class TpchCatalog extends GenCatalog(TpchGen)

/** `graft_tpcds`: the 24 TPC-DS generators (`tpcds.tiny.store_sales`). */
class TpcdsCatalog extends GenCatalog(TpcdsGen)

/** Column pruning + key-range predicate pushdown: a key filter whose
  * [[Domain]] is a range or one non-negative value is fully absorbed
  * (generation range narrows, Spark does NOT re-evaluate it);
  * everything else stays with Spark. */
class GenScanBuilder(gen: ClosedFormGen, table: String, sf: Double, parts: Int)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = gen.schemaOf(table)
  private var pushed: Array[Filter] = Array.empty
  private var keys: Option[Domain] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val key = gen.keyColumn(table)
    val (taken, domain) = TupleDomain.push(filters,
      TupleDomain.types(gen.schemaOf(table))) { (c, d) =>
      c == key && (d.interval.isDefined || d.values.exists {
        case Seq(v: Number) => v.longValue() >= 0
        case _ => false
      })
    }
    pushed = taken
    keys = domain.get(key)
    filters.filterNot(taken.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GenScan(gen, table, sf, parts, required, pushed, keys)
}

/** Rows [start, end) of `table`, generated column by column. */
final case class GenRange(gen: ClosedFormGen, table: String, sf: Double,
    columns: Array[String], start: Long, end: Long) extends ConnectorSplit {
  override def rows(): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val gens = columns.map(gen.generator(table, _, sf))
    private var k = start
    override def hasNext: Boolean = k < end
    override def next(): InternalRow = {
      val row = new GenericInternalRow(gens.length)
      var i = 0
      while (i < gens.length) { row.update(i, gens(i)(k)); i += 1 }
      k += 1
      row
    }
  }
}

class GenScan(gen: ClosedFormGen, table: String, sf: Double, parts: Int,
    required: StructType, pushed: Array[Filter], keys: Option[Domain])
    extends ConnectorScan(required)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def description(): String =
    s"${gen.genName} $table sf=$sf PushedFilters: [${pushed.mkString(", ")}]"

  private def prunedRange: (Long, Long) = {
    val n = gen.rowCount(table, sf)
    keys.map(_.longSpan) match {
      case None | Some(Some((Long.MinValue, Long.MaxValue))) => (0L, n)
      case Some(None) => (0L, 0L)
      case Some(Some((kLo, kHi))) =>
        // guard the index arithmetic against overflow (a `< Long.MaxValue`
        // bound times a lines-per-key factor would wrap) WITHOUT clamping
        // into [0, n] — key spaces may sit far above the row count
        // (julian d_date_sk, week-based inv_date_sk); each generator's
        // inverse clamps its OUTPUT to [0, n]
        val cap = 1L << 40
        gen.indexRangeForKeys(table,
          math.max(-cap, math.min(cap, kLo)),
          math.max(-cap, math.min(cap, kHi)), n)
    }
  }

  /** Exact post-pruning cardinality — the generator knows it, so
    * broadcast-vs-shuffle picks are right without ANALYZE. Width:
    * 8 bytes per fixed field, 20 per string — only has to land the
    * broadcast threshold. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val (lo, hi) = prunedRange
    val rows = math.max(0L, hi - lo)
    val width = required.fields.map(_.dataType match {
      case StringType => 20L
      case _ => 8L
    }).sum
    ScanStats(rows, rows * math.max(1L, width))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (lo, hi) = prunedRange
    if (hi <= lo) return Array.empty
    val span = hi - lo
    val p = math.max(1, math.min(parts, span).toInt)
    val columns = required.fieldNames
    (0 until p).map { i =>
      GenRange(gen, table, sf, columns,
        lo + span * i / p, lo + span * (i + 1) / p)
    }.filter(r => r.end > r.start).toArray[InputPartition]
  }
}
