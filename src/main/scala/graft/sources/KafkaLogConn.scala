package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Kafka-shaped message-log connector — the Spark-native re-expression
  * of the reference's Kafka connector
  * (`presto-kafka/src/main/java/com/facebook/presto/kafka/
  * KafkaConnectorFactory.java:39`) against an IN-PROCESS topic log.
  *
  * DOCUMENTED SUBSTITUTION: no Kafka broker or client jar exists in this
  * zero-egress distribution, so the wire half (bootstrap servers, consumer
  * groups) is replaced by [[KafkaLog]], a JVM-wide append-only
  * topic/partition/offset log with byte-identical message framing
  * (key: binary, value: binary, event timestamp). EVERYTHING above the
  * socket is the real integration surface, kept exactly Kafka-shaped:
  *
  *   - '''Read schema''' is Spark's own Kafka source schema verbatim —
  *     `key binary, value binary, topic string, partition int,
  *     offset long, timestamp timestamp, timestampType int` — so a user
  *     swapping in the real `format("kafka")` changes ONE string.
  *     (The reference models the same surface as `_key` / `_message` /
  *     `_partition_id` / `_partition_offset` internal columns,
  *     `KafkaInternalFieldDescription.java:42-77`.)
  *   - '''Split model''' mirrors `KafkaSplitManager.getSplits`
  *     (`KafkaSplitManager.java:97-135`): one split per topic-partition
  *     carrying a `[beginningOffset, endOffset)` range, resolved from
  *     `startingOffsets`/`endingOffsets` options (`earliest`/`latest` or
  *     the Kafka-JSON per-partition map, with -2/-1 as
  *     earliest/latest sentinels — Spark's kafka option grammar).
  *   - '''Streaming''' is a real [[MicroBatchStream]]: per-partition
  *     offset maps serialized as Kafka-style JSON checkpoints; each
  *     micro-batch reads the `(committed, latest]` offset ranges.
  *   - '''Write''' follows Spark's Kafka sink contract: a `value` binary
  *     column, optional `key`/`partition`/`timestamp` columns, the
  *     default partitioner hashing the key bytes when no explicit
  *     partition is given. Like the real sink, produce is at-least-once:
  *     records append from the task (no two-phase commit — Kafka has no
  *     transactional abort in the sink path the reference exercises).
  *
  * Decoding message bytes onto typed columns is deliberately NOT here —
  * exactly like the reference splits `presto-kafka` (where bytes come
  * from) from `presto-record-decoder` (how bytes become rows), the
  * decoders live in `graft.functions.RecordDecoders` and compose as
  * projections over this source's `value` column, batch or streaming.
  *
  * Scale stance: the in-process log is the test/fixture stand-in for the
  * broker; the connector layer above it (splits keyed by partition ×
  * offset-range, stats-reporting scans, streaming offsets) is the shape
  * that fans out across a 1000-executor cluster, one task per
  * topic-partition range.
  */
object KafkaLog {

  final case class Msg(key: Array[Byte], value: Array[Byte], tsMs: Long)

  /** topic -> per-partition append-only logs; offset == buffer index
    * (the log is never compacted or truncated here). */
  private[sources] val topics =
    new ConcurrentHashMap[String, Array[ArrayBuffer[Msg]]]()

  /** (Re)create a topic with `partitions` empty partitions. */
  def create(topic: String, partitions: Int): Unit = {
    require(partitions > 0, s"kafka-log: partitions must be > 0")
    topics.put(topic, Array.fill(partitions)(ArrayBuffer.empty[Msg]))
  }

  def drop(topic: String): Unit = topics.remove(topic)

  def exists(topic: String): Boolean = topics.containsKey(topic)

  private[sources] def partitionsOf(topic: String): Array[ArrayBuffer[Msg]] = {
    val t = topics.get(topic)
    require(t != null, s"kafka-log: unknown topic '$topic'")
    t
  }

  /** Append one record; returns its offset. Thread-safe per partition
    * (concurrent producer tasks interleave, like real brokers). */
  def produce(topic: String, partition: Int, key: Array[Byte],
      value: Array[Byte], tsMs: Long): Long = {
    val parts = partitionsOf(topic)
    require(partition >= 0 && partition < parts.length,
      s"kafka-log: partition $partition out of range for '$topic'")
    val log = parts(partition)
    log.synchronized { log += Msg(key, value, tsMs); log.length - 1L }
  }

  /** Kafka's default partitioner shape: positive hash of key bytes
    * modulo partition count (murmur2 there; arraywise hashCode here —
    * any fixed hash satisfies the contract "same key, same partition"). */
  def partitionForKey(topic: String, key: Array[Byte]): Int = {
    val n = partitionsOf(topic).length
    if (key == null) 0
    else (java.util.Arrays.hashCode(key) & Int.MaxValue) % n
  }

  def endOffsets(topic: String): Array[Long] =
    partitionsOf(topic).map(log => log.synchronized(log.length.toLong))

  /** First offset whose record timestamp is >= `tsMs`, or the end
    * offset when no such record exists — the Kafka
    * `offsetsForTimes` contract the reference's split manager resolves
    * begin/end offsets with (`KafkaSplitManager.findOffsetsByTimestamp`)
    * and Spark's `startingOffsetsByTimestamp` option exposes. */
  def offsetForTimestamp(topic: String, partition: Int, tsMs: Long): Long = {
    val log = partitionsOf(topic)(partition)
    log.synchronized {
      val i = log.indexWhere(_.tsMs >= tsMs)
      if (i < 0) log.length.toLong else i.toLong
    }
  }

  // ---- offset-map (de)serialization: Kafka-JSON {"topic":{"0":12}} ----

  def offsetsToJson(offsets: Map[String, Seq[Long]]): String =
    offsets.toSeq.sortBy(_._1).map { case (t, offs) =>
      val inner = offs.zipWithIndex
        .map { case (o, p) => s""""$p":$o""" }.mkString(",")
      s""""$t":{$inner}"""
    }.mkString("{", ",", "}")

  def offsetsFromJson(json: String): Map[String, Seq[Long]] = {
    offsetMapsFromJson(json).map { case (t, m) =>
      val n = if (m.isEmpty) 0 else m.keys.max + 1
      t -> (0 until n).map(p => m.getOrElse(p, 0L))
    }
  }

  /** Sparse form of [[offsetsFromJson]]: partitions the JSON omits stay
    * absent, so callers can tell "unspecified" from "offset 0" (the
    * distinction [[KafkaLogTable.resolve]] needs — an ending-offsets map
    * that omits a partition must default to latest, not to 0). */
  def offsetMapsFromJson(json: String): Map[String, Map[Int, Long]] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JObject(fields) => fields.map { case (t, parts) =>
        t -> parts.asInstanceOf[JObject].obj.map {
          case (p, JInt(o)) => p.toInt -> o.toLong
          case (p, JLong(o)) => p.toInt -> o
          case (p, v) => sys.error(s"kafka-log: bad offset $p=$v")
        }.toMap
      }.toMap
      case other => sys.error(s"kafka-log: bad offset json: $other")
    }
  }
}

/** Streaming offset: per-topic per-partition next-offset-to-read. */
final case class KafkaLogOffset(offsets: Map[String, Seq[Long]])
    extends Offset {
  override def json(): String = KafkaLog.offsetsToJson(offsets)
}

class KafkaLogProvider extends ConnectorProvider("graft-kafka") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new KafkaLogTable(options)
}

object KafkaLogTable {
  /** Spark's Kafka source schema, field-for-field. */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  private[sources] def subscribed(options: CaseInsensitiveStringMap)
      : Seq[String] = {
    // reads use `subscribe` (comma-separated topics), writes `topic` —
    // both Spark's own kafka option spellings
    val s = Option(options.get("subscribe")).getOrElse(options.get("topic"))
    require(s != null && s.nonEmpty,
      "graft-kafka requires option 'subscribe' (read) or 'topic' (write)")
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Resolve a startingOffsets/endingOffsets option value to concrete
    * per-partition offsets. -2/-1 inside the JSON map mean
    * earliest/latest (Spark's kafka grammar). `byTimestamp` (the
    * `...OffsetsByTimestamp` options) reads the JSON values as epoch
    * millis and resolves each to the first offset at-or-after that
    * record time — the `offsetsForTimes` path the reference's split
    * manager uses (`KafkaSplitManager.findOffsetsByTimestamp`).
    *
    * `default` carries the bound's polarity: partitions a JSON map omits
    * resolve to earliest for a starting bound and to latest for an
    * ending bound — omitting a partition from `endingOffsets` must never
    * silently read nothing from it (an empty `[start, 0)` range), it
    * means "up to the end", mirroring how Spark's kafka source reserves
    * -1 for latest. */
  private[sources] def resolve(topicList: Seq[String], spec: String,
      default: String, byTimestamp: Boolean = false)
      : Map[String, Seq[Long]] = {
    val s = if (spec == null || spec.isEmpty) default else spec
    def ends(t: String) = KafkaLog.endOffsets(t)
    def missing(t: String, p: Int): Long =
      if (default == "latest") ends(t)(p) else 0L
    s match {
      case "earliest" =>
        topicList.map(t => t -> ends(t).map(_ => 0L).toSeq).toMap
      case "latest" => topicList.map(t => t -> ends(t).toSeq).toMap
      case json =>
        val m = KafkaLog.offsetMapsFromJson(json)
        topicList.map { t =>
          val e = ends(t)
          val given = m.getOrElse(t, Map.empty[Int, Long])
          t -> e.indices.map { p =>
            given.get(p) match {
              case Some(ts) if byTimestamp =>
                KafkaLog.offsetForTimestamp(t, p, ts)
              case Some(-2L) => 0L
              case Some(-1L) => e(p)
              case None => missing(t, p)
              case Some(o) => math.min(math.max(o, 0L), e(p))
            }
          }
        }.toMap
    }
  }
}

class KafkaLogTable(options: CaseInsensitiveStringMap)
    extends ReadTable with SupportsWrite {

  private val topicList = KafkaLogTable.subscribed(options)

  override def name(): String = s"graft-kafka.${topicList.mkString(",")}"
  override def schema(): StructType = KafkaLogTable.Schema
  override protected def moreCapabilities: Seq[TableCapability] =
    Seq(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new KafkaLogScan(topicList, opts)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the sink produces to ONE topic — a multi-topic `subscribe`/`topic`
    // list must not silently route every record to the first entry
    require(topicList.size == 1,
      s"graft-kafka sink requires exactly one topic, got: " +
        topicList.mkString(","))
    new KafkaLogWriteBuilder(topicList.head, info.schema())
  }
}

/** One split per (topic, partition, offset-range) —
  * `KafkaSplitManager.java:97-135` with the begin/end offsets resolved
  * up front. */
final case class KafkaRange(topic: String, partition: Int,
    from: Long, until: Long) extends ConnectorSplit {
  override def rows(): Iterator[InternalRow] = {
    val log = KafkaLog.partitionsOf(topic)(partition)
    val topicUtf8 = UTF8String.fromString(topic)
    val part = partition
    new Iterator[InternalRow] {
      private var off = from
      override def hasNext: Boolean = off < until
      override def next(): InternalRow = {
        val m = log.synchronized(log(off.toInt))
        off += 1
        InternalRow(m.key, m.value, topicUtf8, part, off - 1,
          m.tsMs * 1000L, 0) // timestampType 0 = CreateTime
      }
    }
  }
}

object KafkaRange {
  /** The non-empty [from, until) ranges of every subscribed partition. */
  def plan(topicList: Seq[String], from: Map[String, Seq[Long]],
      until: Map[String, Seq[Long]]): Array[InputPartition] =
    topicList.flatMap { t =>
      val f = from.getOrElse(t, Seq.empty)
      val u = until.getOrElse(t, Seq.empty)
      u.indices.map(p => KafkaRange(t, p, f.lift(p).getOrElse(0L), u(p)))
    }.filter(r => r.until > r.from).toArray
}

class KafkaLogScan(topicList: Seq[String], options: CaseInsensitiveStringMap)
    extends ConnectorScan(KafkaLogTable.Schema)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def description(): String =
    s"graft-kafka ${topicList.mkString(",")}"

  private def pick(offsetKey: String, tsKey: String, default: String)
      : Map[String, Seq[Long]] = {
    val ts = options.get(tsKey)
    require(ts == null || options.get(offsetKey) == null,
      s"graft-kafka: set only one of '$offsetKey' and '$tsKey'")
    if (ts != null)
      KafkaLogTable.resolve(topicList, ts, default, byTimestamp = true)
    else KafkaLogTable.resolve(topicList, options.get(offsetKey), default)
  }
  private def startingOffsets: Map[String, Seq[Long]] =
    pick("startingoffsets", "startingoffsetsbytimestamp", "earliest")
  private def endingOffsets: Map[String, Seq[Long]] =
    pick("endingoffsets", "endingoffsetsbytimestamp", "latest")

  override def planInputPartitions(): Array[InputPartition] =
    KafkaRange.plan(topicList, startingOffsets, endingOffsets)

  // exact message counts from the log — the same honesty MemoryConn's
  // scan reports, so a small control topic can broadcast
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = planInputPartitions()
      .map { case KafkaRange(_, _, f, u) => u - f }.sum
    ScanStats(rows, rows * 128L)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new KafkaLogMicroBatch(topicList, options.get("startingoffsets"),
      options.get("startingoffsetsbytimestamp"))
}

/** Micro-batch stream over the topic log: offsets are per-partition
  * next-to-read maps, checkpointed as Kafka-style JSON. Each batch reads
  * `(start, end]` ranges planned exactly like the batch path. */
class KafkaLogMicroBatch(topicList: Seq[String], startingSpec: String,
    startingTsSpec: String = null)
    extends MicroBatchStream {

  override def initialOffset(): Offset =
    KafkaLogOffset(
      if (startingTsSpec != null)
        KafkaLogTable.resolve(topicList, startingTsSpec, "earliest",
          byTimestamp = true)
      else KafkaLogTable.resolve(topicList, startingSpec, "earliest"))

  override def latestOffset(): Offset =
    KafkaLogOffset(topicList.map(t => t -> KafkaLog.endOffsets(t).toSeq).toMap)

  override def deserializeOffset(json: String): Offset =
    KafkaLogOffset(KafkaLog.offsetsFromJson(json))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] =
    KafkaRange.plan(topicList, start.asInstanceOf[KafkaLogOffset].offsets,
      end.asInstanceOf[KafkaLogOffset].offsets)

  override def createReaderFactory(): PartitionReaderFactory =
    SplitReaderFactory

  override def commit(end: Offset): Unit = () // log is never truncated

  override def stop(): Unit = ()
}

/** Kafka-sink-shaped write: requires a `value` binary column; `key`
  * (binary), `partition` (int), `timestamp` (timestamp) optional. Rows
  * append from the task — at-least-once, like Spark's Kafka sink (a
  * task retry can re-produce; the broker has no abort). */
class KafkaLogWriteBuilder(topic: String, schema: StructType)
    extends WriteBuilder {

  private def fieldIdx(name: String, required: Boolean = false): Int = {
    val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    require(!required || i >= 0,
      s"graft-kafka sink requires a '$name' column")
    i
  }

  override def build(): Write = {
    val vi = fieldIdx("value", required = true)
    require(schema(vi).dataType == BinaryType,
      "graft-kafka sink: 'value' must be binary")
    // optional columns are type-checked here, at plan time — a mistyped
    // key/partition/timestamp must fail the write's build, not surface
    // as an executor-side ClassCastException mid-job
    def checkType(i: Int, name: String, dt: DataType): Unit =
      require(i < 0 || schema(i).dataType == dt,
        s"graft-kafka sink: '$name' must be ${dt.simpleString}, got " +
          schema(i).dataType.simpleString)
    val ki = fieldIdx("key"); val pi = fieldIdx("partition")
    val ti = fieldIdx("timestamp")
    checkType(ki, "key", BinaryType)
    checkType(pi, "partition", IntegerType)
    checkType(ti, "timestamp", TimestampType)
    new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(
            info: PhysicalWriteInfo): DataWriterFactory =
          new KafkaLogWriterFactory(topic, ki, vi, pi, ti)
        override def commit(messages: Array[WriterCommitMessage]): Unit = ()
        override def abort(messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }
}

final case class KafkaProduced(n: Long) extends WriterCommitMessage

class KafkaLogWriterFactory(topic: String, ki: Int, vi: Int, pi: Int, ti: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(r: InternalRow): Unit = {
        val key = if (ki >= 0 && !r.isNullAt(ki)) r.getBinary(ki) else null
        val value = if (r.isNullAt(vi)) null else r.getBinary(vi)
        val part =
          if (pi >= 0 && !r.isNullAt(pi)) r.getInt(pi)
          else KafkaLog.partitionForKey(topic, key)
        val tsMs =
          if (ti >= 0 && !r.isNullAt(ti)) r.getLong(ti) / 1000L
          else System.currentTimeMillis()
        KafkaLog.produce(topic, part, key, value, tsMs)
        n += 1
      }
      override def commit(): WriterCommitMessage = KafkaProduced(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
