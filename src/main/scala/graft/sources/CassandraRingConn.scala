package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Cassandra-shaped wide-row connector — the Spark-native
  * re-expression of the reference's Cassandra connector
  * (`presto-cassandra/src/main/java/com/facebook/presto/cassandra/
  * CassandraConnectorFactory.java:37`), fourth application of the
  * documented in-process-substitution pattern ([[KafkaLog]],
  * [[RedisStore]], [[EsStore]]).
  *
  * DOCUMENTED SUBSTITUTION: no Cassandra cluster or driver jar exists
  * in this zero-egress distribution, so the wire half (cluster
  * metadata, replicas) is replaced by [[CassStore]], a JVM-wide store
  * that keeps the actual Cassandra data organization: rows hashed by
  * PARTITION KEY onto a token ring, sorted by CLUSTERING KEY within
  * each partition. EVERYTHING above the socket stays
  * Cassandra-connector-shaped:
  *
  *   - '''Token-range splits''' mirror `CassandraSplitManager
  *     .getSplitsByTokenRange` + `CassandraTokenSplitManager.getSplits`
  *     (`CassandraSplitManager.java:91-112`,
  *     `CassandraTokenSplitManager.java:61-97`): an unpruned scan plans
  *     `max(partitionCount / splitSize, 1)` splits, each a
  *     `token(pk) > start AND token(pk) <= end` ring range — one task
  *     per vnode-ish range on a cluster. Tokens here are non-negative
  *     longs over an even ring (the Murmur3Partitioner shape).
  *   - '''Partition pruning at the SPLIT level''' mirrors
  *     `getSplitsForPartitions` (`CassandraSplitManager.java:114-180`):
  *     when the query binds the FULL partition key by equality/IN
  *     (CQL's rule — a partially-bound partition key cannot prune),
  *     splits enumerate exactly the matched partitions; a single-column
  *     partition key batches values `partitionSizeForBatchSelect`-at-
  *     a-time into IN-clause splits, a composite key keeps one split
  *     per partition — both reference behaviors.
  *   - '''Clustering-key pushdown''' follows
  *     `CassandraClusteringPredicatesExtractor.getClusteringKeysSet`
  *     (`:65-170`): predicates push in clustering-column ORDER —
  *     equalities on a prefix, then one range (the [[Domain]] of every
  *     range bound on that column), then STOP at the first
  *     unconstrained column (CQL's restriction model). A pushed
  *     bound becomes a binary-searched SLICE of the partition's
  *     clustering-sorted rows — never a partition scan. Everything
  *     outside the pushable shape stays a residual Spark filter
  *     (the reference's unenforced constraints).
  *   - '''Writes are upserts by primary key''' like
  *     `CassandraPageSink` (every Cassandra INSERT overwrites the
  *     (partition key, clustering key) row), so task retries are
  *     naturally idempotent.
  *
  * Scale stance: the in-process store stands in for the cluster; the
  * split/pruning/slice layer is the real contract. At 100 TB the token
  * scan fans out per ring range, a point lookup plans ONE split, and a
  * clustering slice reads O(log n + hits) of its partition.
  */
object CassStore {

  /** Split-type counters — CI proof that runtime filtering converts a
    * token scan into partition-key splits at execution. */
  val tokenSplitsOpened = new java.util.concurrent.atomic.AtomicLong(0L)
  val partitionSplitsOpened = new java.util.concurrent.atomic.AtomicLong(0L)

  final case class TableDef(partitionKeys: Seq[String],
      clusteringKeys: Seq[String], fields: Seq[(String, DataType)]) {
    val fieldMap: Map[String, DataType] = fields.toMap
    require(partitionKeys.nonEmpty, "graft-cassandra: partition key required")
    (partitionKeys ++ clusteringKeys).foreach(k =>
      require(fieldMap.contains(k), s"graft-cassandra: key '$k' unmapped"))
  }

  /** One partition: rows sorted by clustering key (the memtable/SSTable
    * invariant). Vector insert is O(n) — a real store uses a skip list;
    * fixture-sized here, the SLICE reads are what the connector locks. */
  final class Partition {
    private[sources] var rows = Vector.empty[Seq[Any]]
  }

  final case class CTable(defn: TableDef,
      partitions: ConcurrentHashMap[Seq[Any], Partition])

  private[graft] val tables = new ConcurrentHashMap[String, CTable]()

  def create(name: String, partitionKeys: Seq[String],
      clusteringKeys: Seq[String], fields: Seq[(String, DataType)]): Unit = {
    fields.foreach { case (f, dt) =>
      require(dt == StringType || dt == LongType || dt == IntegerType ||
        dt == DoubleType || dt == BooleanType,
        s"graft-cassandra: unsupported type ${dt.catalogString} for '$f'")
    }
    tables.put(name, CTable(TableDef(partitionKeys, clusteringKeys, fields),
      new ConcurrentHashMap[Seq[Any], Partition]()))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): CTable = {
    val t = tables.get(name)
    require(t != null, s"graft-cassandra: unknown table '$name'")
    t
  }

  /** Non-negative ring token of a partition key tuple (the
    * Murmur3Partitioner shape: stable hash onto an even ring). */
  def token(pk: Seq[Any]): Long = {
    var h = 0x9E3779B97F4A7C15L
    pk.foreach { v =>
      var x = v match {
        case null => 0L
        case l: Long => l
        case i: Int => i.toLong
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case b: Boolean => if (b) 1L else 0L
        case s => s.toString.hashCode.toLong
      }
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
      h = (h ^ x ^ (x >>> 33)) * 0x9E3779B97F4A7C15L
    }
    h & Long.MaxValue
  }

  private[graft] def compareVals(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private[graft] def compareTuples(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = compareVals(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }

  /** Upsert one row (Cassandra INSERT semantics: the primary key —
    * partition key + clustering key — identifies the row; a second
    * insert overwrites). `row` is positionally aligned with
    * `defn.fields`. */
  def upsert(name: String, row: Seq[Any]): Unit = {
    val t = table(name)
    val idx = t.defn.fields.map(_._1).zipWithIndex.toMap
    val pk = t.defn.partitionKeys.map(k => row(idx(k)))
    val ck = t.defn.clusteringKeys.map(k => row(idx(k)))
    val p = t.partitions.computeIfAbsent(pk, _ => new Partition)
    p.synchronized {
      val ckOf = (r: Seq[Any]) => t.defn.clusteringKeys.map(k => r(idx(k)))
      // binary search the clustering position
      var lo = 0; var hi = p.rows.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareTuples(ckOf(p.rows(mid)), ck) < 0) lo = mid + 1
        else hi = mid
      }
      if (lo < p.rows.length && compareTuples(ckOf(p.rows(lo)), ck) == 0)
        p.rows = p.rows.updated(lo, row) // upsert: overwrite by primary key
      else p.rows = (p.rows.take(lo) :+ row) ++ p.rows.drop(lo)
    }
  }

  def partitionCount(name: String): Int = table(name).partitions.size()

  /** The reference's split-count formula
    * (`CassandraTokenSplitManager.java:97`):
    * max(partitionsCountEstimate / splitSize, 1). */
  private[graft] def tokenRangeCount(partitions: Int, splitSize: Int): Int =
    math.max(partitions / splitSize, 1)

  /** Even (start, end] ranges over the non-negative token ring; the
    * first range starts at -1 so token 0 is covered. */
  private[graft] def tokenRanges(n: Int): Seq[(Long, Long)] = {
    val width = Long.MaxValue / n
    (0 until n).map { i =>
      val start = if (i == 0) -1L else i * width
      val end = if (i == n - 1) Long.MaxValue else (i + 1) * width
      (start, end)
    }
  }
}

class CassandraRingProvider extends ConnectorProvider("graft-cassandra") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new CassandraRingTable(options)
}

object CassandraRingTable {
  def schemaOf(options: CaseInsensitiveStringMap): StructType = {
    val name = Connector.option(options, "graft-cassandra", "table")
    StructType(CassStore.table(name).defn.fields.map { case (f, dt) =>
      StructField(f, dt)
    })
  }

  /** `partitionSizeForBatchSelect` — the reference's IN-batch width. */
  val PartitionBatch = 100
  val DefaultSplitSize = 64
}

class CassandraRingTable(options: CaseInsensitiveStringMap)
    extends ReadTable with SupportsWrite {

  private val tableName = options.get("table")
  private val splitSize =
    Option(options.get("split.size")).map(_.toInt)
      .getOrElse(CassandraRingTable.DefaultSplitSize)

  override def name(): String = s"graft-cassandra.$tableName"
  override def schema(): StructType = CassandraRingTable.schemaOf(options)
  override protected def moreCapabilities: Seq[TableCapability] =
    Seq(TableCapability.BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CassScanBuilder(tableName, splitSize, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val defn = CassStore.table(tableName).defn
    val expect = defn.fields.map(_._1)
    require(info.schema().fieldNames.toSeq == expect,
      s"graft-cassandra write schema must be ${expect.mkString(",")}, " +
        s"got ${info.schema().fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new CassWriterFactory(tableName)
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

/** The pushed clustering bound: equalities on a clustering-column
  * prefix, then at most one range, the domain of the next column — the
  * only shapes CQL can serve from the sorted partition. */
final case class ClusteringBound(eqPrefix: Seq[Any], range: Option[Domain])
    extends Serializable

sealed trait CassSplit extends ConnectorSplit {
  def table: String
  def bound: ClusteringBound
  def required: StructType

  override def rows(): Iterator[InternalRow] = {
    this match {
      case _: TokenRangeSplit => CassStore.tokenSplitsOpened.incrementAndGet()
      case _: PartitionsSplit => CassStore.partitionSplitsOpened.incrementAndGet()
    }
    val t = CassStore.table(table)
    val idx = t.defn.fields.map(_._1).zipWithIndex.toMap
    val ckIdx = t.defn.clusteringKeys.map(idx)
    val outIdx = required.fields.map(f => (idx(f.name), f.dataType))

    def sliceOf(part: CassStore.Partition): Vector[Seq[Any]] = {
      val rows = part.synchronized(part.rows)
      val b = bound
      if (b.eqPrefix.isEmpty && b.range.isEmpty) rows
      else if (b.range.exists(_.isNone)) Vector.empty
      else {
        // binary-search the clustering slice: [prefix ++ lo, prefix ++ hi]
        def ckOf(r: Seq[Any]) = ckIdx.map(r)
        def lowerBound(key: Seq[Any], orEqual: Boolean): Int = {
          var lo = 0; var hi = rows.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val c = CassStore.compareTuples(
              ckOf(rows(mid)).take(key.length), key)
            if (c < 0 || (!orEqual && c == 0)) lo = mid + 1 else hi = mid
          }
          lo
        }
        val r = b.range.flatMap(_.span).getOrElse(Range.All)
        val from = r.lo match {
          case Some(lo) => lowerBound(b.eqPrefix :+ lo.value, lo.inclusive)
          case None => lowerBound(b.eqPrefix, orEqual = true)
        }
        val until =
          if (r.hi.isDefined)
            lowerBound(b.eqPrefix :+ r.hi.get.value, !r.hi.get.inclusive)
          else if (b.eqPrefix.nonEmpty)
            lowerBound(b.eqPrefix, orEqual = false)
          else rows.length
        if (from >= until) Vector.empty else rows.slice(from, until)
      }
    }

    val parts: Iterator[CassStore.Partition] = this match {
      case PartitionsSplit(_, pks, _, _) =>
        pks.iterator.flatMap(pk => Option(t.partitions.get(pk)))
      case TokenRangeSplit(_, start, end, _, _) =>
        import scala.jdk.CollectionConverters._
        t.partitions.entrySet().iterator().asScala
          .filter { e =>
            val tok = CassStore.token(e.getKey)
            tok > start && tok <= end
          }.map(_.getValue)
    }
    parts.flatMap(sliceOf).map { cur =>
      InternalRow.fromSeq(outIdx.toSeq.map { case (i, dt) =>
        cur(i) match {
          case null => null
          case v => dt match {
            case StringType => UTF8String.fromString(v.toString)
            case LongType => v.asInstanceOf[Number].longValue()
            case IntegerType => v.asInstanceOf[Number].intValue()
            case DoubleType => v.asInstanceOf[Number].doubleValue()
            case BooleanType => v.asInstanceOf[Boolean]
            case other => sys.error(s"graft-cassandra: bad type $other")
          }
        }
      })
    }
  }
}
/** token(pk) > start AND token(pk) <= end. */
final case class TokenRangeSplit(table: String, start: Long, end: Long,
    bound: ClusteringBound, required: StructType) extends CassSplit
/** A batch of fully-bound partition keys (the IN-clause split). */
final case class PartitionsSplit(table: String, pks: Seq[Seq[Any]],
    bound: ClusteringBound, required: StructType) extends CassSplit

class CassScanBuilder(tableName: String, splitSize: Int, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val defn = CassStore.table(tableName).defn
  private var pushed: Array[Filter] = Array.empty
  private var pkValues: Option[Seq[Seq[Any]]] = None
  private var bound = ClusteringBound(Seq.empty, None)
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // each filter's domain on its one column
    val domains = filters.flatMap(f =>
      TupleDomain.of(f, defn.fieldMap.get).flatMap(_.domains match {
        case m if m.size == 1 => Some((f, m.head._1, m.head._2))
        case _ => None
      }))
    def on(col: String)(shape: Domain => Boolean) =
      domains.filter { case (_, c, d) => c == col && shape(d) }
    // --- partition-key binding: values on EVERY pk column ---
    val pkBound = defn.partitionKeys.map(k => on(k)(_.values.isDefined))
    val fullyBound = pkBound.forall(_.nonEmpty)
    if (fullyBound) {
      // cartesian of the per-column value lists = the partition list
      // (CassandraPartitionManager enumerates the same combinations)
      pkValues = Some(pkBound.map(_.map(_._3).reduce(_ intersect _)
        .values.getOrElse(Seq.empty))
        .foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
          acc.flatMap(prefix => vs.map(prefix :+ _))
        })
    }
    // --- clustering predicates: prefix equalities, then one range ---
    val eqPrefix = mutable.ArrayBuffer.empty[Any]
    var range: Option[Domain] = None
    val consumed = mutable.ArrayBuffer.empty[Filter]
    var stop = false
    defn.clusteringKeys.foreach { ck =>
      if (!stop) {
        on(ck)(_.values.exists(_.size == 1)).headOption match {
          case Some((f, _, d)) =>
            eqPrefix += d.values.get.head; consumed += f
          case None =>
            // every range bound on THIS column, then stop
            val ranges = on(ck)(_.interval.isDefined)
            if (ranges.nonEmpty) {
              range = Some(ranges.map(_._3).reduce(_ intersect _))
              consumed ++= ranges.map(_._1)
            }
            stop = true // range or unconstrained column ends the prefix
        }
      }
    }
    bound = ClusteringBound(eqPrefix.toSeq, range)
    val pkFilters = pkBound.flatten.map(_._1).toSet
    val served =
      (if (fullyBound) filters.filter(pkFilters) else Array.empty[Filter]) ++
        consumed
    // a pushed equality/range implies NOT NULL, so the isnotnull guards
    // Spark derives for those columns are served too
    val covered = domains.collect {
      case (f, c, _) if served.contains(f) => c
    }.toSet
    pushed = served ++ domains.collect {
      case (f, c, d) if d.isNotNull && covered(c) => f
    }
    // handled filters are served EXACTLY (pruned partitions + sorted
    // slice); the rest is Spark's residual — the reference's
    // unenforced constraints
    filters.filterNot(pushed.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new CassScan(tableName, splitSize, pkValues, bound, required, pushed)
}

class CassScan(tableName: String, splitSize: Int,
    pkValues: Option[Seq[Seq[Any]]], bound: ClusteringBound,
    required: StructType, pushedFilters: Array[Filter])
    extends ConnectorScan(required)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** RUNTIME partition pruning (Spark's dynamic-pruning hook for DSv2
    * scans, SPARK-35779): when a selective dim join's build side
    * executes, its key values arrive as an In-filter and convert the
    * planned token scan into partition-key splits — CQL's fully-bound
    * pruning rule applied dynamically. Faithful to that rule, only a
    * SINGLE-column partition key is declared (Spark hands over one
    * join key's values; a partially-bound composite key cannot prune).
    * Reading only the named partitions IS the equality filter, and the
    * join re-applies exact semantics on top. */
  @volatile private var runtimePks: Option[Seq[Seq[Any]]] = None

  private def defn = CassStore.table(tableName).defn

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (defn.partitionKeys.size == 1 && pkValues.isEmpty)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(defn.partitionKeys.head))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val pk = defn.partitionKeys.head
    runtimePks = TupleDomain.push(filters, defn.fieldMap.get) {
      (c, d) => c == pk && d.values.isDefined
    }._2.get(pk).map(_.values.getOrElse(Seq.empty).map(Seq(_)))
  }

  override def description(): String =
    s"graft-cassandra $tableName " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}] " +
      (if (pkValues.isDefined) s"partitions=${pkValues.get.length} "
       else "tokenScan ") + "cols=" + required.fieldNames.mkString(",")

  override def planInputPartitions(): Array[InputPartition] =
    pkValues.orElse(runtimePks) match {
      case Some(pks) =>
        // getSplitsForPartitions: single-column keys batch into
        // IN-clause splits; composite keys keep one split per partition
        val single = CassStore.table(tableName).defn.partitionKeys.size == 1
        val batch = if (single) CassandraRingTable.PartitionBatch else 1
        pks.grouped(batch)
          .map(g => PartitionsSplit(tableName, g, bound, required): InputPartition)
          .toArray
      case None =>
        val n = CassStore.tokenRangeCount(
          CassStore.partitionCount(tableName), splitSize)
        CassStore.tokenRanges(n).map { case (s, e) =>
          TokenRangeSplit(tableName, s, e, bound, required): InputPartition
        }.toArray
    }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val t = CassStore.table(tableName)
    val rows = pkValues match {
      case Some(pks) => pks.map(pk =>
        Option(t.partitions.get(pk)).map(_.rows.length.toLong)
          .getOrElse(0L)).sum
      case None =>
        var n = 0L
        t.partitions.forEach((_, p) => n += p.rows.length)
        n
    }
    ScanStats(rows, rows * 128L)
  }
}

final case class CassWritten(n: Long) extends WriterCommitMessage

class CassWriterFactory(tableName: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val defn = CassStore.table(tableName).defn
      private var n = 0L
      override def write(r: InternalRow): Unit = {
        val row = defn.fields.zipWithIndex.map { case ((_, dt), i) =>
          if (r.isNullAt(i)) null
          else dt match {
            case StringType => r.getUTF8String(i).toString
            case LongType => r.getLong(i)
            case IntegerType => r.getInt(i)
            case DoubleType => r.getDouble(i)
            case BooleanType => r.getBoolean(i)
            case other => sys.error(s"graft-cassandra: bad type $other")
          }
        }
        CassStore.upsert(tableName, row)
        n += 1
      }
      override def commit(): WriterCommitMessage = CassWritten(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
