package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One of the five sketch families graft stores as BINARY. Presto gives
  * each its own SQL type (HyperLogLogType, KHyperLogLogType,
  * QuantileDigestType, TDigestType, SetDigestType) and resolves the
  * overloaded `merge` by that type; here only the bytes carry the family,
  * and [[SketchFamily.of]] is the one place that reads it off them.
  *
  * `merge` folds `o` into `b` with the semantics the family's build
  * aggregate has always had; `empty` is the state a typed merge of no
  * rows returns, at the family's default parameter. */
sealed abstract class SketchFamily[S <: AnyRef](val name: String,
    val mergeName: String) extends Serializable {
  def read(bytes: Array[Byte]): S
  def write(s: S): Array[Byte]
  def merge(b: S, o: S): S
  def isEmpty(s: S): Boolean
  def empty: S

  def emptyBytes: Array[Byte] = write(empty)

  def mergeCol(c: Column): Column =
    ColumnBridge.toCol(SketchMerge(ColumnBridge.toExpr(c), Some(this))
      .toAggregateExpression())
}

object SketchFamily {

  object HllSketch extends SketchFamily[HyperLogLog.State]("hll", "merge") {
    def read(bytes: Array[Byte]): HyperLogLog.State = HyperLogLog.deserialize(bytes)
    def write(s: HyperLogLog.State): Array[Byte] = s.serialize()
    def merge(b: HyperLogLog.State, o: HyperLogLog.State): HyperLogLog.State = {
      b.mergeWith(o); b
    }
    def isEmpty(s: HyperLogLog.State): Boolean = s.dense == null && s.sparse.isEmpty
    def empty: HyperLogLog.State = new HyperLogLog.State(HyperLogLog.DefaultP)
  }

  object KhllSketch extends SketchFamily[KHll.State]("khll", "merge_khll") {
    def read(bytes: Array[Byte]): KHll.State = KHll.deserialize(bytes)
    def write(s: KHll.State): Array[Byte] = s.serialize()
    def merge(b: KHll.State, o: KHll.State): KHll.State = { b.mergeWith(o); b }
    def isEmpty(s: KHll.State): Boolean = s.map.isEmpty
    def empty: KHll.State = new KHll.State(KHll.DefaultMaxSize)
  }

  object SetDigestSketch
      extends SketchFamily[SetDigest.State]("setdigest", "merge_set_digest") {
    def read(bytes: Array[Byte]): SetDigest.State = SetDigest.deserialize(bytes)
    def write(s: SetDigest.State): Array[Byte] = s.serialize()
    def merge(b: SetDigest.State, o: SetDigest.State): SetDigest.State = {
      b.mergeWith(o); b
    }
    def isEmpty(s: SetDigest.State): Boolean = !s.nonEmpty
    def empty: SetDigest.State = new SetDigest.State(SetDigest.DefaultK)
  }

  object TDigestSketch extends SketchFamily[TDigest.State]("tdigest", "merge_tdigest") {
    def read(bytes: Array[Byte]): TDigest.State = TDigest.deserialize(bytes)
    def write(s: TDigest.State): Array[Byte] = s.serialize()
    // an empty side is skipped, so digests of another compression only
    // meet when both carry mass
    def merge(b: TDigest.State, o: TDigest.State): TDigest.State = {
      if (o.total > 0) b.mergeWith(o); b
    }
    def isEmpty(s: TDigest.State): Boolean = s.total == 0
    def empty: TDigest.State = new TDigest.State(TDigest.DefaultCompression)
  }

  object QDigestSketch
      extends SketchFamily[QuantileSketch.State]("qdigest", "ddsketch_merge") {
    def read(bytes: Array[Byte]): QuantileSketch.State = QuantileSketch.deserialize(bytes)
    def write(s: QuantileSketch.State): Array[Byte] = s.serialize()
    def merge(b: QuantileSketch.State, o: QuantileSketch.State): QuantileSketch.State = {
      b.mergeWith(o); b
    }
    def isEmpty(s: QuantileSketch.State): Boolean = s.totalCount == 0
    def empty: QuantileSketch.State = new QuantileSketch.State(QuantileSketch.DefaultAlpha)
  }

  /** HLL and KHLL carry magics. The rest are told apart by their first
    * eight bytes read as a double: a DDSketch starts with alpha in
    * (1e-12, 1), a t-digest with compression > 1. A SetDigest starts
    * with ints k > 0 and n, which read as a denormal double, and is
    * exactly 8 + 8n bytes long. Anything else is not a sketch. */
  def of(bytes: Array[Byte]): SketchFamily[_ <: AnyRef] =
    if (HyperLogLog.isHll(bytes)) HllSketch
    else if (KHll.isKhll(bytes)) KhllSketch
    else {
      require(bytes.length >= 8, s"not a sketch: ${bytes.length} bytes")
      val buf = ByteBuffer.wrap(bytes)
      val d = buf.getDouble(0)
      if (d > 1e-12 && d < 1.0) QDigestSketch
      else if (d > 1.0) TDigestSketch
      else {
        require(buf.getInt(0) > 0 && bytes.length == 8 + 8L * buf.getInt(4),
          s"not a sketch: ${bytes.length} bytes match no sketch family")
        SetDigestSketch
      }
    }
}

/** What a sketch-building aggregate takes from its family: the buffer's
  * byte form, its merge and its result. Each build keeps its own
  * `update`. */
private[functions] trait SketchBuild[S <: AnyRef] extends TypedImperativeAggregate[S] {
  protected def family: SketchFamily[S]
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def merge(b: S, o: S): S = family.merge(b, o)
  override def eval(b: S): Any = family.write(b)
  override def serialize(b: S): Array[Byte] = family.write(b)
  override def deserialize(bytes: Array[Byte]): S = family.read(bytes)
}

/** Re-aggregates serialized sketches: `merge`, `merge_hll`,
  * `merge_khll`, `merge_set_digest`, `merge_tdigest` and the Column API
  * merges.
  *
  * The buffer holds no sketch until the first input arrives, then that
  * input's family and parameter. A buffer still holding an empty sketch
  * takes the next input as it is. Without a family this is Presto's
  * overloaded `merge`: any family is accepted, mixing families in one
  * group fails, and an empty group yields an empty HLL. With a family,
  * other families' bytes fail and an empty group yields the family's
  * empty sketch. */
case class SketchMerge(child: Expression, family: Option[SketchFamily[_ <: AnyRef]] = None,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SketchMerge.Buf] {
  import SketchMerge.Buf

  override def prettyName: String = family.fold("merge")(_.mergeName)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a serialized sketch (binary), got ${dt.catalogString}")
  }

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[Array[Byte]]
      val f = SketchFamily.of(bytes).asInstanceOf[SketchFamily[AnyRef]]
      family.foreach(want => require(f eq want,
        s"$prettyName expects ${want.name} sketches, got a ${f.name} sketch"))
      b.add(f, f.read(bytes))
    }
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    if (o.family != null) b.add(o.family, o.state)
    b
  }

  override def eval(b: Buf): Any =
    if (b.family != null) b.family.write(b.state)
    else family.getOrElse(SketchFamily.HllSketch).emptyBytes

  // zero bytes mark "no sketch yet": an empty partial must not pin the
  // group to a family before a real sketch arrives
  override def serialize(b: Buf): Array[Byte] =
    if (b.family == null) Array.emptyByteArray else b.family.write(b.state)

  override def deserialize(bytes: Array[Byte]): Buf = {
    val b = new Buf
    if (bytes.nonEmpty) {
      val f = SketchFamily.of(bytes).asInstanceOf[SketchFamily[AnyRef]]
      b.add(f, f.read(bytes))
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): SketchMerge =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchMerge =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object SketchMerge {
  final class Buf {
    private[functions] var family: SketchFamily[AnyRef] = null
    private[functions] var state: AnyRef = null

    def add(f: SketchFamily[AnyRef], s: AnyRef): Unit =
      if (family == null) { family = f; state = s }
      else {
        require(f eq family, s"cannot merge a ${f.name} sketch into a ${family.name} group")
        state = if (family.isEmpty(state)) s else family.merge(state, s)
      }
  }
}
