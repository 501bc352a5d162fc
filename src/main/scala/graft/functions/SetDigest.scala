package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RuntimeReplaceable, Size, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, MapType, StructType}

/** Presto's SetDigest family (`make_set_digest` / `merge_set_digest` /
  * `cardinality` / `intersection_cardinality` / `jaccard_index`;
  * `presto-main/.../operator/aggregation/SetDigest*.java`,
  * `scalar/SetDigestFunctions.java`) as a Spark `TypedImperativeAggregate`
  * with binary state.
  *
  * The digest is a k-minimum-values (KMV) sketch: the k unsigned-smallest
  * distinct xxhash64 values of the input (Presto's SetDigest couples an HLL
  * with the same MinHash structure, k=8192 by default; one KMV structure
  * answers both the cardinality and the similarity questions, so this
  * implementation carries just it — an API-compatible, differently-tuned
  * estimator, like the DDSketch-for-qdigest swap in [[QuantileSketch]]).
  *
  * Scale properties (the reason this exists at 100 TB): state is bounded
  * (≤ 64 KB at k=8192), inserts are a hash + bounded-set offer, merge is a
  * set union + trim — associative, commutative, order- and
  * partition-independent, so Spark runs it partial/final with only one
  * small binary per group crossing the shuffle, and a merged digest is
  * byte-identical to a directly-built one (asserted by the gate query).
  *
  * Below saturation (distinct inputs < k) every answer is EXACT — the
  * digest holds all distinct hashes — which is what makes the DuckDB
  * differential oracle replayable with plain set algebra. Above k, KMV
  * estimates apply: cardinality ≈ (k-1)/U_k (Bar-Yossef et al. 2002),
  * jaccard from the union's k smallest (the standard MinHash estimator,
  * matching `SetDigestFunctions.jaccardIndex`'s shape).
  */
object SetDigest {

  /** Presto SetDigest.DEFAULT_MAX_HASHES. */
  val DefaultK = 8192

  private val unsigned = new java.util.Comparator[java.lang.Long] {
    def compare(a: java.lang.Long, b: java.lang.Long): Int =
      java.lang.Long.compareUnsigned(a, b)
  }

  final class State(var k: Int) {
    private[functions] val hashes =
      new java.util.TreeSet[java.lang.Long](unsigned)

    def offer(h: Long): Unit = {
      hashes.add(h)
      if (hashes.size > k) hashes.pollLast() // drop the unsigned-largest
    }

    def mergeWith(o: State): Unit = {
      if (o.k < k && o.nonEmpty) k = o.k // merged precision is the coarser
      val it = o.hashes.iterator()
      while (it.hasNext) offer(it.next())
      while (hashes.size > k) hashes.pollLast()
    }

    def nonEmpty: Boolean = !hashes.isEmpty

    private def unsignedToDouble(h: Long): Double =
      (h >>> 1).toDouble * 2.0 + (h & 1L)

    /** Exact below saturation; KMV estimate (k-1)/U_k at saturation. */
    def cardinality: Long =
      if (hashes.size < k) hashes.size.toLong
      else {
        val kth = unsignedToDouble(hashes.last()) / 1.8446744073709552e19
        math.round((k - 1) / kth)
      }

    def serialize(): Array[Byte] = {
      val buf = ByteBuffer.allocate(8 + 8 * hashes.size)
      buf.putInt(k).putInt(hashes.size)
      val it = hashes.iterator() // TreeSet iterates in comparator order
      while (it.hasNext) buf.putLong(it.next())
      buf.array()
    }
  }

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    val st = new State(buf.getInt)
    val n = buf.getInt
    var i = 0
    while (i < n) { st.hashes.add(buf.getLong); i += 1 }
    st
  }

  /** MinHash Jaccard: of the union's k unsigned-smallest hashes, the
    * fraction present in both sides (SetDigestFunctions.jaccardIndex).
    * Exact |A∩B|/|A∪B| below saturation. NaN for two empty digests. */
  def jaccard(a: State, b: State): Double = {
    val k = math.min(a.k, b.k)
    val union = new java.util.TreeSet[java.lang.Long](unsigned)
    union.addAll(a.hashes)
    union.addAll(b.hashes)
    if (union.isEmpty) return Double.NaN
    var inBoth = 0
    var total = 0
    val it = union.iterator()
    while (it.hasNext && total < k) {
      val h = it.next()
      if (a.hashes.contains(h) && b.hashes.contains(h)) inBoth += 1
      total += 1
    }
    inBoth.toDouble / total
  }

  /** jaccard × union-cardinality, rounded; exact |A∩B| below saturation. */
  def intersectionCardinality(a: State, b: State): Long = {
    val m = deserialize(a.serialize())
    m.mergeWith(b)
    val j = jaccard(a, b)
    if (j.isNaN) 0L else math.round(j * m.cardinality)
  }

  // Column API (graft-native spellings; SQL names come via Registry)
  def make(c: Column, k: Int = DefaultK): Column =
    ColumnBridge.toCol(SetDigestAgg(ColumnBridge.toExpr(c), k)
      .toAggregateExpression())
  def merge(c: Column): Column = SketchFamily.SetDigestSketch.mergeCol(c)
  def card(c: Column): Column =
    ColumnBridge.toCol(SetDigestCardinality(ColumnBridge.toExpr(c)))
  def jaccardIndex(a: Column, b: Column): Column =
    ColumnBridge.toCol(
      JaccardIndexExpr(ColumnBridge.toExpr(a), ColumnBridge.toExpr(b)))
}

/** make_set_digest(x[, k]): any atomic input, hashed with xxhash64 (the
  * hash the reference digest uses, `SetDigest.java`). */
case class SetDigestAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchBuild[SetDigest.State] {

  override def prettyName: String = "make_set_digest"
  override protected def family = SketchFamily.SetDigestSketch
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType | _: MapType | _: StructType =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an atomic argument, got " +
          child.dataType.catalogString)
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): SetDigest.State =
    new SetDigest.State(k)

  override def update(b: SetDigest.State, input: InternalRow): SetDigest.State = {
    val v = child.eval(input)
    if (v != null) b.offer(XxHash64Function.hash(v, child.dataType, 0L))
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): SetDigestAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SetDigestAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** cardinality(setdigest) — the binary leg of Presto's overload; the
  * array/map legs stay on Spark's builtin (Registry dispatches). Per-group
  * scalar, interpreted path is fine. */
case class SetDigestCardinality(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "set_digest_cardinality"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a serialized digest (binary), got ${dt.catalogString}")
  }

  // accepts all three set sketches, like the reference's type overloads
  override def nullSafeEval(d: Any): Any = {
    val bytes = d.asInstanceOf[Array[Byte]]
    SketchFamily.of(bytes) match {
      case SketchFamily.HllSketch => HyperLogLog.deserialize(bytes).cardinality
      case SketchFamily.KhllSketch => KHll.deserialize(bytes).cardinality
      case SketchFamily.SetDigestSketch => SetDigest.deserialize(bytes).cardinality
      case f => throw new IllegalArgumentException(
        s"cardinality expects an hll, khll or setdigest sketch, got a ${f.name} sketch")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Presto overloads `cardinality()` across containers AND digests
  * (`SetDigestFunctions.java` registers the SetDigest leg). Spark's
  * builtin covers array/map; this dispatches on the resolved child type so
  * registering the name is semantics-compatible shadowing (SURVEY §2.4's
  * registry-shadowing rule). */
case class CardinalityDispatch(child: Expression)
    extends Expression with RuntimeReplaceable {
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "cardinality"

  override lazy val replacement: Expression = child.dataType match {
    case BinaryType => SetDigestCardinality(child)
    case _ => Size(child)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** jaccard_index(a, b) over two serialized digests. */
case class JaccardIndexExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "jaccard_index"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetDigest.jaccard(
      KHll.anyKeyDigest(a.asInstanceOf[Array[Byte]]),
      KHll.anyKeyDigest(b.asInstanceOf[Array[Byte]]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** intersection_cardinality(a, b) over two serialized digests. */
case class IntersectionCardinality(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "intersection_cardinality"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetDigest.intersectionCardinality(
      KHll.anyKeyDigest(a.asInstanceOf[Array[Byte]]),
      KHll.anyKeyDigest(b.asInstanceOf[Array[Byte]]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
