package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, MapType, StructType}

/** KHyperLogLog — the reference's re-identifiability sketch
  * (`presto-main/.../type/khyperloglog/KHyperLogLog.java`,
  * `KHyperLogLogFunctions.java`): a KMV set of the k smallest hashes of a
  * value column x, each carrying a small cardinality sketch of the
  * user-id column uii seen with that value. Answers "how identifying is
  * attribute x": `cardinality`, `uniqueness_distribution` (histogram of
  * per-value uii-cardinalities over the sampled values),
  * `reidentification_potential` (fraction of sampled values tied to at
  * most `threshold` uiis), plus `intersection_cardinality` /
  * `jaccard_index` over the key sets.
  *
  * Structure mirrors the reference (maxSize=4096 keys); the per-key
  * cardinality sketch is a KMV [[SetDigest.State]] (k=256) where the
  * reference uses an HLL-256 — same API semantics, a differently-tuned
  * estimator, exact below 256 distinct uiis per value (the regime the
  * DuckDB oracle replays with plain counting). One deliberate
  * micro-divergence: `uniqueness_distribution` computes each bucket as
  * count/size in one division where the reference accumulates 1/size per
  * key — equal up to FP associativity, and the single division is what
  * the oracle can replay bit-for-bit.
  *
  * Scale: bounded state (≤ 4096 × ~2 KB), partial/final aggregation with
  * one binary per group on the shuffle, order/partition-independent merge
  * with canonical serialization — merged digests are byte-identical to
  * directly-built ones (gated by qh7's merge check).
  */
object KHll {
  val Magic: Int = 0x4b484c4c // "KHLL"
  val DefaultMaxSize: Int = 4096 // KHyperLogLog.DEFAULT_MAX_SIZE
  val ValueSketchK: Int = 256

  private val unsigned = new java.util.Comparator[java.lang.Long] {
    def compare(a: java.lang.Long, b: java.lang.Long): Int =
      java.lang.Long.compareUnsigned(a, b)
  }

  final class State(var k: Int) {
    private[functions] val map =
      new java.util.TreeMap[java.lang.Long, SetDigest.State](unsigned)

    def offer(xHash: Long, uiiHash: Long): Unit = {
      val existing = map.get(xHash)
      if (existing != null) existing.offer(uiiHash)
      else if (map.size < k ||
          unsigned.compare(xHash, map.lastKey()) < 0) {
        val vs = new SetDigest.State(ValueSketchK)
        vs.offer(uiiHash)
        map.put(xHash, vs)
        if (map.size > k) map.remove(map.lastKey())
      }
    }

    def mergeWith(o: State): Unit = {
      if (o.k < k && !o.map.isEmpty) k = o.k
      val it = o.map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mine = map.get(e.getKey)
        if (mine != null) mine.mergeWith(e.getValue)
        else map.put(e.getKey, e.getValue)
      }
      while (map.size > k) map.remove(map.lastKey())
    }

    /** Exact below saturation (map holds every distinct x hash). */
    def cardinality: Long =
      if (map.size < k) map.size.toLong
      else {
        val kth = ((map.lastKey() >>> 1).toDouble * 2.0 +
          (map.lastKey() & 1L)) / 1.8446744073709552e19
        math.round((k - 1) / kth)
      }

    /** The key set as a SetDigest — keys ARE a KMV sample of x, so the
      * set-similarity functions reuse the SetDigest logic unchanged. */
    def keyDigest: SetDigest.State = {
      val d = new SetDigest.State(k)
      val it = map.keySet().iterator()
      while (it.hasNext) d.offer(it.next())
      d
    }

    def uniquenessDistribution(histogramSize: Long): Map[Long, Double] = {
      val size = map.size
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      val it = map.values().iterator()
      while (it.hasNext) {
        val b = math.min(it.next().cardinality, histogramSize)
        counts.update(b, counts.getOrElse(b, 0L) + 1L)
      }
      (1L to histogramSize).map { b =>
        b -> (if (size == 0) 0.0
              else counts.getOrElse(b, 0L).toDouble / size)
      }.toMap
    }

    def reidentificationPotential(threshold: Long): Double = {
      if (map.isEmpty) return 0.0
      var highly = 0L
      val it = map.values().iterator()
      while (it.hasNext) if (it.next().cardinality <= threshold) highly += 1
      highly.toDouble / map.size
    }

    def serialize(): Array[Byte] = {
      val entries = new scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])](map.size)
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        entries += ((e.getKey.longValue(), e.getValue.serialize()))
      }
      val total = 12 + entries.map(12 + _._2.length).sum
      val buf = ByteBuffer.allocate(total)
      buf.putInt(Magic).putInt(k).putInt(entries.size)
      entries.foreach { case (key, bytes) =>
        buf.putLong(key).putInt(bytes.length).put(bytes)
      }
      buf.array()
    }
  }

  def isKhll(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && ByteBuffer.wrap(bytes).getInt == Magic

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.getInt == Magic, "not a khyperloglog")
    val st = new State(buf.getInt)
    val n = buf.getInt
    var i = 0
    while (i < n) {
      val key = buf.getLong
      val len = buf.getInt
      val vb = new Array[Byte](len)
      buf.get(vb)
      st.map.put(key, SetDigest.deserialize(vb))
      i += 1
    }
    st
  }

  /** SetDigest view of either digest kind — the set-similarity scalars
    * (jaccard_index, intersection_cardinality, cardinality) accept both,
    * like the reference's type-overloaded functions. */
  def anyKeyDigest(bytes: Array[Byte]): SetDigest.State =
    SketchFamily.of(bytes) match {
      case SketchFamily.KhllSketch => deserialize(bytes).keyDigest
      case SketchFamily.SetDigestSketch => SetDigest.deserialize(bytes)
      case f => throw new IllegalArgumentException(
        s"expected a setdigest or khll sketch, got a ${f.name} sketch")
    }

  // Column API
  def agg(x: Column, uii: Column): Column =
    ColumnBridge.toCol(KHllAgg(
      ColumnBridge.toExpr(x), ColumnBridge.toExpr(uii), DefaultMaxSize)
      .toAggregateExpression())
  def merge(c: Column): Column = SketchFamily.KhllSketch.mergeCol(c)
}

/** khyperloglog_agg(x, uii) → binary khll. */
case class KHllAgg(x: Expression, uii: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchBuild[KHll.State] {

  override def prettyName: String = "khyperloglog_agg"
  override protected def family = SketchFamily.KhllSketch
  override def children: Seq[Expression] = Seq(x, uii)

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(x, uii).map(_.dataType).find {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    } match {
      case Some(dt) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects atomic arguments, got ${dt.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def createAggregationBuffer(): KHll.State = new KHll.State(k)

  override def update(b: KHll.State, input: InternalRow): KHll.State = {
    val xv = x.eval(input)
    val uv = uii.eval(input)
    if (xv != null && uv != null)
      b.offer(XxHash64Function.hash(xv, x.dataType, 0L),
        XxHash64Function.hash(uv, uii.dataType, 0L))
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): KHllAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KHllAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren(0), uii = newChildren(1))
}

/** uniqueness_distribution(khll, histogramSize) → map<bigint, double>. */
case class UniquenessDistribution(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "uniqueness_distribution"
  override def dataType: DataType = MapType(LongType, DoubleType)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (khll, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(d: Any, size: Any): Any = {
    val dist = KHll.deserialize(d.asInstanceOf[Array[Byte]])
      .uniquenessDistribution(size.asInstanceOf[Long])
    val keys = dist.keys.toArray.sorted
    ArrayBasedMapData(keys, keys.map(dist))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** reidentification_potential(khll, threshold) → double. */
case class ReidentificationPotential(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "reidentification_potential"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (khll, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(d: Any, t: Any): Any =
    KHll.deserialize(d.asInstanceOf[Array[Byte]])
      .reidentificationPotential(t.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
