package graft.sources

import java.util.OptionalLong

import scala.collection.AbstractIterator

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DataSource V2 read path, written once for every graft connector.
  *
  * Presto's connector SPI asks a connector for three things: metadata,
  * splits and a record cursor (`presto-spi/src/main/java/com/facebook/
  * presto/spi/ConnectorSplit.java`, `RecordCursor.java`,
  * `RecordSet.java`). The engine's `RecordPageSource` turns any cursor
  * into pages, so presto-example-http, presto-local-file, presto-jmx and
  * presto-atop hold no page plumbing. The same division here:
  *
  *   - [[ConnectorProvider]] is the `format(...)` entry: the short name
  *     and the table its options name (`ConnectorMetadata.getTableHandle`);
  *   - [[ReadTable]] is a table that can be read in batch;
  *   - [[ConnectorScan]] plans the splits (`ConnectorSplitManager`);
  *   - [[ConnectorSplit]] is one split, and its `rows()` is the cursor;
  *   - [[SplitReaderFactory]] is the one `RecordPageSource`: it reads any
  *     split and closes a cursor that holds a resource.
  *
  * Each connector keeps what is its own behaviour: pushdown, split
  * planning, scan description, table name and write path.
  */
object Connector {

  /** The value of a required option. A missing or empty one fails with
    * "`connector` requires option '`key`'". */
  def option(options: CaseInsensitiveStringMap, connector: String,
      key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty, s"$connector requires option '$key'")
    v
  }
}

/** A connector's `format(...)` entry. The schema is its table's own. */
abstract class ConnectorProvider(name: String)
    extends TableProvider with DataSourceRegister {

  /** The table `options` name. */
  def table(options: CaseInsensitiveStringMap): Table

  override def shortName(): String = name

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    table(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties))
}

/** A table that can be read in batch, plus `moreCapabilities`. */
trait ReadTable extends Table with SupportsRead {
  protected def moreCapabilities: Seq[TableCapability] = Seq.empty

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, moreCapabilities: _*)
}

/** One split and its cursor (`ConnectorSplit` plus `RecordCursor`).
  * `rows()` runs where the split is read; an iterator that is also
  * `AutoCloseable` is closed once when its reader closes, also when
  * the read stops early. */
trait ConnectorSplit extends InputPartition {
  def rows(): Iterator[InternalRow]
}

/** `rows`, with a `source` to release when the reader closes. */
final class ClosingRows(rows: Iterator[InternalRow], source: AutoCloseable)
    extends AbstractIterator[InternalRow] with AutoCloseable {
  override def hasNext: Boolean = rows.hasNext
  override def next(): InternalRow = rows.next()
  override def close(): Unit = source.close()
}

/** Reads any [[ConnectorSplit]]. */
object SplitReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[ConnectorSplit].rows()
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var open = true
      override def next(): Boolean =
        rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = if (open) {
        open = false
        rows match {
          case c: AutoCloseable => c.close()
          case _ =>
        }
      }
    }
  }
}

/** A batch scan over [[ConnectorSplit]]s that reads `schema`. */
abstract class ConnectorScan(schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def createReaderFactory(): PartitionReaderFactory =
    SplitReaderFactory
}

/** Reported scan statistics: a row count and a size in bytes. */
final case class ScanStats(rows: Long, bytes: Long) extends Statistics {
  override def numRows(): OptionalLong = OptionalLong.of(rows)
  override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
}
