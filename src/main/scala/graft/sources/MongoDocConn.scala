package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A MongoDB-shaped document connector — the Spark-native re-expression
  * of the reference's MongoDB connector
  * (`presto-mongodb/src/main/java/com/facebook/presto/mongodb/
  * MongoConnectorFactory.java:32`), fifth application of the documented
  * in-process-substitution pattern.
  *
  * DOCUMENTED SUBSTITUTION: no MongoDB server or driver jar exists in
  * this zero-egress distribution, so the wire half is [[MongoStore]], a
  * JVM-wide registry of collections holding NESTED documents
  * (maps/lists/scalars). The connector layer stays Mongo-shaped:
  *
  *   - '''Schema inference from data''' mirrors
  *     `MongoSession.guessTableFields` (`MongoSession.java:461-493`):
  *     the table schema is GUESSED from the collection's FIRST document
  *     — string→varchar, int/long→bigint, float/double→double, boolean,
  *     nested document→row (recursive), uniform list→array; a field
  *     whose type cannot be guessed (null first value, mixed-type list)
  *     is DROPPED from the schema exactly like the reference's
  *     `guessFieldType` empty return. No other connector here derives
  *     its schema from data.
  *   - '''Query-document pushdown''' mirrors `MongoSession.buildQuery`/
  *     `buildPredicate` (`:243-325`), which compile the [[TupleDomain]]
  *     to the $eq/$in/$gt/$gte/$lt/$lte/$exists operators: the domain of
  *     each top-level scalar field is applied to the value the field
  *     reads as, before documents reach Spark; other filters stay
  *     residual.
  *   - '''Split model''': ONE split per collection, the reference's own
  *     `MongoSplitManager.getSplits` (`:46-60` — a FixedSplitSource of
  *     exactly one split). That single-cursor bound is the reference's,
  *     kept honestly; sharded parallel readers are a different
  *     connector generation.
  *   - '''Writes''' are document INSERTS (`MongoPageSink`): append-only,
  *     nested rows/arrays serialize back to documents.
  *
  * Scale stance: the document model (schema-on-read, nested rows) and
  * the query-document filter are the contract; the single-split scan is
  * the reference's own bound and is stated as such.
  */
object MongoStore {

  private[graft] val collections =
    new ConcurrentHashMap[String, mutable.ArrayBuffer[Map[String, Any]]]()

  def drop(name: String): Unit = collections.remove(name)

  def insert(name: String, doc: Map[String, Any]): Unit = {
    val coll = collections.computeIfAbsent(name,
      _ => mutable.ArrayBuffer.empty[Map[String, Any]])
    coll.synchronized { coll += doc }
  }

  private[sources] def collection(
      name: String): mutable.ArrayBuffer[Map[String, Any]] = {
    val c = collections.get(name)
    require(c != null, s"graft-mongo: unknown collection '$name'")
    c
  }

  /** `guessFieldType` (`MongoSession.java:495-560`): None = the field
    * drops from the schema. */
  private[graft] def guessType(value: Any): Option[DataType] = value match {
    case null => None
    case _: String => Some(StringType)
    case _: Int | _: Long => Some(LongType)
    case _: Float | _: Double => Some(DoubleType)
    case _: Boolean => Some(BooleanType)
    case l: Seq[_] =>
      val subs = l.map(guessType)
      if (subs.isEmpty || subs.exists(_.isEmpty)) None
      else {
        val set = subs.flatten.toSet
        if (set.size == 1) Some(ArrayType(set.head)) else None
      }
    case m: Map[_, _] =>
      val fields = m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .flatMap { case (k, v) => guessType(v).map(StructField(k, _)) }
      if (fields.isEmpty) None else Some(StructType(fields))
    case _ => None
  }

  /** `guessTableFields`: schema from the FIRST document. */
  private[graft] def inferSchema(name: String): StructType = {
    val coll = collection(name)
    val first = coll.synchronized(coll.headOption)
    require(first.isDefined,
      s"graft-mongo: collection '$name' is empty — no schema to guess")
    StructType(first.get.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      guessType(v).map(StructField(k, _))
    })
  }

  /** Whether `doc` holds `domain`, each field read as `schema` types it. */
  private[graft] def matches(doc: Map[String, Any], domain: TupleDomain,
      schema: StructType): Boolean =
    domain.matches(f => MongoCollSplit.convert(doc.getOrElse(f, null),
      schema(f).dataType))
}

class MongoDocProvider extends ConnectorProvider("graft-mongo") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new MongoDocTable(options)
}

class MongoDocTable(options: CaseInsensitiveStringMap)
    extends ReadTable with SupportsWrite {

  private val collName = Connector.option(options, "graft-mongo", "collection")
  private val inferred = MongoStore.inferSchema(collName)

  override def name(): String = s"graft-mongo.$collName"
  override def schema(): StructType = inferred
  override protected def moreCapabilities: Seq[TableCapability] =
    Seq(TableCapability.BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new MongoScanBuilder(collName, inferred)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new MongoWriterFactory(collName, info.schema())
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** Pushes the filters whose [[TupleDomain]] is on top-level scalar
  * fields — `MongoSession.buildPredicate`'s surface. Nested paths stay
  * residual, like predicates outside the reference's TupleDomain. */
class MongoScanBuilder(collName: String, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var domain = TupleDomain.All
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (taken, d) =
      TupleDomain.push(filters, TupleDomain.types(full))((_, _) => true)
    pushed = taken
    domain = d
    filters.filterNot(taken.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new MongoScan(collName, full, domain, required, pushed)
}

/** The reference's single split (`MongoSplitManager.java:46-60`). */
final case class MongoCollSplit(coll: String, schema: StructType,
    domain: TupleDomain, required: StructType) extends ConnectorSplit {
  override def rows(): Iterator[InternalRow] = {
    val c = MongoStore.collection(coll)
    c.synchronized(c.toVector).iterator
      .filter(MongoStore.matches(_, domain, schema))
      .map(d => InternalRow.fromSeq(required.fields.toSeq.map(f =>
        MongoCollSplit.convert(d.getOrElse(f.name, null), f.dataType))))
  }
}

object MongoCollSplit {
  /** Document value -> Catalyst value for the target type; a value
    * whose shape no longer matches the guessed schema reads NULL (the
    * schema-on-read tolerance Mongo users expect). */
  private[sources] def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (n: Number, LongType) => n.longValue()
    case (n: Number, DoubleType) => n.doubleValue()
    case (b: Boolean, BooleanType) => b
    case (l: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(l.map(convert(_, et)).toArray)
    case (m: Map[_, _], st: StructType) =>
      val doc = m.asInstanceOf[Map[String, Any]]
      InternalRow.fromSeq(st.fields.toSeq.map(f =>
        convert(doc.getOrElse(f.name, null), f.dataType)))
    case _ => null
  }
}

class MongoScan(collName: String, schema: StructType, domain: TupleDomain,
    required: StructType, pushedFilters: Array[Filter])
    extends ConnectorScan(required)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def description(): String =
    s"graft-mongo $collName " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}] " +
      "cols=" + required.fieldNames.mkString(",")

  override def planInputPartitions(): Array[InputPartition] =
    Array(MongoCollSplit(collName, schema, domain, required))

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val coll = MongoStore.collection(collName)
    val rows = coll.synchronized(
      coll.count(MongoStore.matches(_, domain, schema)).toLong)
    ScanStats(rows, rows * 256L)
  }
}

final case class MongoInserted(n: Long) extends WriterCommitMessage

class MongoWriterFactory(collName: String, schema: StructType)
    extends DataWriterFactory {

  private def toDoc(r: InternalRow, st: StructType): Map[String, Any] =
    st.fields.zipWithIndex.flatMap { case (f, i) =>
      if (r.isNullAt(i)) None
      else Some(f.name -> (f.dataType match {
        case StringType => r.getUTF8String(i).toString
        case LongType => r.getLong(i)
        case IntegerType => r.getInt(i).toLong
        case DoubleType => r.getDouble(i)
        case BooleanType => r.getBoolean(i)
        case nested: StructType =>
          toDoc(r.getStruct(i, nested.fields.length), nested)
        case ArrayType(et, _) =>
          val arr = r.getArray(i)
          (0 until arr.numElements()).map(j => et match {
            case StringType => arr.getUTF8String(j).toString
            case LongType => arr.getLong(j)
            case DoubleType => arr.getDouble(j)
            case BooleanType => arr.getBoolean(j)
            case other => sys.error(s"graft-mongo: bad array type $other")
          }).toSeq
        case other => sys.error(s"graft-mongo: bad type $other")
      }))
    }.toMap

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(r: InternalRow): Unit = {
        MongoStore.insert(collName, toDoc(r, schema))
        n += 1
      }
      override def commit(): WriterCommitMessage = MongoInserted(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
