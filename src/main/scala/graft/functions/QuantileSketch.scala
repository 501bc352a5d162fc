package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, Decimal, DecimalType, DoubleType, NumericType}

/** Mergeable relative-error quantile sketch — the Presto qdigest/tdigest
  * workflow (`qdigest_agg` / `merge` / `value_at_quantile`,
  * `presto-main/.../scalar/QuantileDigestFunctions.java`,
  * `presto-main/src/main/java/com/facebook/presto/tdigest/TDigest.java`)
  * re-expressed as a Spark `TypedImperativeAggregate` carrying binary
  * state, the same machinery Spark's own percentile_approx uses.
  *
  * The sketch is the log-bucketed histogram of the DDSketch paper (Masson,
  * Rim, Lee — VLDB 2019): positive values land in geometric buckets of
  * ratio γ = (1+α)/(1−α), so any quantile is answered with relative value
  * error ≤ α; negatives land in a mirrored bucket map (the paper's
  * two-one-sided-sketches construction) and zeros get an exact counter.
  * Two properties matter at 100 TB:
  *  - state is bounded (≤ a few KB at α=0.01 over any double range) and
  *    merge is bucket-wise addition — partial aggregation map-side, one
  *    small binary per group ever shuffled, exactly like the HLL pack;
  *  - bucket contents are independent of row order and partitioning, so a
  *    merged sketch is IDENTICAL to a directly-built one — re-aggregation
  *    is exact, not just approximate, and qc7 asserts binary-level
  *    equality of the two estimates.
  */
object QuantileSketch {

  /** qdigest_agg's default accuracy. */
  val DefaultAlpha: Double = 0.01

  final class State(val alpha: Double) {
    private[functions] val gamma = (1 + alpha) / (1 - alpha)
    private val logGamma = math.log(gamma)
    private[functions] val buckets = scala.collection.mutable.HashMap.empty[Int, Long]
    // mirrored store for x < 0: negBuckets(i) counts values with -x in
    // geometric bucket i (DDSketch paper §2.3 — two one-sided sketches)
    private[functions] val negBuckets = scala.collection.mutable.HashMap.empty[Int, Long]
    private[functions] var zeroCount = 0L
    private[functions] var totalCount = 0L

    def insert(x: Double, w: Long = 1L): Unit = {
      require(w > 0, s"weight must be positive, got $w")
      if (x == 0.0) zeroCount += w
      else if (x > 0.0) {
        val idx = math.ceil(math.log(x) / logGamma).toInt
        buckets.update(idx, buckets.getOrElse(idx, 0L) + w)
      } else {
        val idx = math.ceil(math.log(-x) / logGamma).toInt
        negBuckets.update(idx, negBuckets.getOrElse(idx, 0L) + w)
      }
      totalCount += w
    }

    def mergeWith(o: State): Unit = {
      require(o.alpha == alpha, "cannot merge sketches of different alpha")
      zeroCount += o.zeroCount
      totalCount += o.totalCount
      o.buckets.foreach { case (k, v) =>
        buckets.update(k, buckets.getOrElse(k, 0L) + v)
      }
      o.negBuckets.foreach { case (k, v) =>
        negBuckets.update(k, negBuckets.getOrElse(k, 0L) + v)
      }
    }

    private def midpoint(i: Int): Double = 2.0 * math.pow(gamma, i) / (gamma + 1)

    /** Lower empirical quantile at rank ceil(q*n); bucket midpoint
      * 2γ^i/(γ+1) is within α of every value in bucket i. Requires
      * 0 <= q <= 1 (Presto value_at_quantile: INVALID_FUNCTION_ARGUMENT
      * outside that range). */
    def quantile(q: Double): Double = {
      require(q >= 0.0 && q <= 1.0,
        s"quantile must be between 0 and 1, got $q")
      if (totalCount == 0) return Double.NaN
      val rank = math.max(1L, math.ceil(q * totalCount).toLong)
      var acc = 0L
      // ascending value order: most-negative first (mirrored buckets walk
      // from the largest magnitude down), then zeros, then positives up
      val negKeys = negBuckets.keys.toArray.sorted.reverse
      var i = 0
      while (i < negKeys.length) {
        acc += negBuckets(negKeys(i))
        if (acc >= rank) return -midpoint(negKeys(i))
        i += 1
      }
      acc += zeroCount
      if (acc >= rank) return 0.0
      val keys = buckets.keys.toArray.sorted
      i = 0
      while (i < keys.length) {
        acc += buckets(keys(i))
        if (acc >= rank) return midpoint(keys(i))
        i += 1
      }
      // unreachable when counts are consistent (rank <= totalCount); keep
      // a defined answer for a corrupt/inconsistent sketch
      if (keys.nonEmpty) midpoint(keys.last)
      else if (zeroCount > 0) 0.0
      else if (negKeys.nonEmpty) -midpoint(negKeys.last)
      else Double.NaN
    }

    /** Approximate CDF — Presto quantile_at_value(qdigest, x)
      * (QuantileDigestFunctions.java): fraction of mass at or below x,
      * counting every bucket whose value range lies at/below x's bucket.
      * Value-relative α error translates to rank error proportional to
      * local density. */
    def cdf(x: Double): Double = {
      if (totalCount == 0) return Double.NaN
      var acc = 0L
      if (x >= 0.0) {
        negBuckets.valuesIterator.foreach(acc += _)
        acc += zeroCount
        if (x > 0.0) {
          val idx = math.ceil(math.log(x) / logGamma).toInt
          buckets.foreach { case (k, v) => if (k <= idx) acc += v }
        }
      } else {
        val idx = math.ceil(math.log(-x) / logGamma).toInt
        // values <= x are negatives with magnitude >= -x: buckets >= idx
        negBuckets.foreach { case (k, v) => if (k >= idx) acc += v }
      }
      acc.toDouble / totalCount
    }

    /** scale_qdigest (QuantileDigestFunctions.java): multiply every
      * count by a positive factor, rounding to whole counts (the
      * reference's qdigest stores double weights; ours are longs). */
    def scale(factor: Double): State = {
      require(factor > 0, "scale factor must be positive")
      val st = new State(alpha)
      def sc(v: Long): Long = math.max(0L, math.round(v * factor))
      buckets.foreach { case (k, v) => st.buckets.update(k, sc(v)) }
      negBuckets.foreach { case (k, v) => st.negBuckets.update(k, sc(v)) }
      st.zeroCount = sc(zeroCount)
      st.totalCount = st.zeroCount + st.buckets.valuesIterator.sum +
        st.negBuckets.valuesIterator.sum
      st
    }

    def serialize(): Array[Byte] = {
      val buf = ByteBuffer.allocate(
        8 + 8 + 4 + 12 * buckets.size + 4 + 12 * negBuckets.size)
      buf.putDouble(alpha).putLong(zeroCount).putInt(buckets.size)
      // canonical (sorted) order so equal sketches have equal bytes
      buckets.keys.toArray.sorted
        .foreach(k => { buf.putInt(k); buf.putLong(buckets(k)) })
      buf.putInt(negBuckets.size)
      negBuckets.keys.toArray.sorted
        .foreach(k => { buf.putInt(k); buf.putLong(negBuckets(k)) })
      buf.array()
    }
  }

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    val st = new State(buf.getDouble)
    st.zeroCount = buf.getLong
    val n = buf.getInt
    var i = 0
    var total = st.zeroCount
    while (i < n) {
      val k = buf.getInt
      val v = buf.getLong
      st.buckets.update(k, v)
      total += v
      i += 1
    }
    val nn = buf.getInt
    i = 0
    while (i < nn) {
      val k = buf.getInt
      val v = buf.getLong
      st.negBuckets.update(k, v)
      total += v
      i += 1
    }
    st.totalCount = total
    st
  }

  /** Column API: build a sketch of a double column (Presto qdigest_agg). */
  def sketch(c: Column, alpha: Double = DefaultAlpha): Column =
    ColumnBridge.toCol(DDSketchAgg(ColumnBridge.toExpr(c), alpha)
      .toAggregateExpression())

  /** Column API: merge pre-built sketches (Presto merge(qdigest)). */
  def merge(c: Column): Column = SketchFamily.QDigestSketch.mergeCol(c)

  /** Column API: estimate a quantile (Presto value_at_quantile). */
  def valueAt(sketchCol: Column, q: Double): Column =
    ColumnBridge.toCol(DDSketchValueAt(
      ColumnBridge.toExpr(sketchCol),
      org.apache.spark.sql.catalyst.expressions.Literal(q)))

  /** Column API: approximate rank of a value (Presto quantile_at_value). */
  def quantileAt(sketchCol: Column, x: Double): Column =
    ColumnBridge.toCol(DDSketchQuantileAt(
      ColumnBridge.toExpr(sketchCol),
      org.apache.spark.sql.catalyst.expressions.Literal(x)))
}

/** Sketch-build aggregate: numeric input (+ optional bigint weight,
  * the Presto qdigest_agg(x, w) form) → binary sketch state. */
case class DDSketchAgg(child: Expression, alpha: Double,
    weight: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchBuild[QuantileSketch.State] {

  override def prettyName: String = "ddsketch_agg"
  override protected def family = SketchFamily.QDigestSketch
  override def children: Seq[Expression] = child +: weight.toSeq

  // analysis-time contract: any numeric child works (converted per its
  // static type below), anything non-numeric is rejected before execution
  // instead of a per-row ClassCastException
  override def checkInputDataTypes(): TypeCheckResult =
    children.find(!_.dataType.isInstanceOf[NumericType]) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects numeric arguments, got ${c.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  @transient private lazy val toDouble: Any => Double = child.dataType match {
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case _ => v => v.asInstanceOf[Number].doubleValue()
  }

  override def createAggregationBuffer(): QuantileSketch.State =
    new QuantileSketch.State(alpha)

  @transient private lazy val weightToLong: Any => Long =
    weight.map(_.dataType) match {
      case Some(_: DecimalType) => v => v.asInstanceOf[Decimal].toLong
      case _ => v => v.asInstanceOf[Number].longValue()
    }

  override def update(b: QuantileSketch.State, input: InternalRow): QuantileSketch.State = {
    val v = child.eval(input)
    if (v != null) weight match {
      case None => b.insert(toDouble(v))
      case Some(we) =>
        val w = we.eval(input)
        if (w != null) b.insert(toDouble(v), weightToLong(w))
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): DDSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DDSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0),
      weight = weight.map(_ => newChildren(1)))
}

/** value_at_quantile(sketch, q): scalar estimate from a serialized sketch.
  * Runs once per GROUP (not per row), so the interpreted path costs
  * nothing measurable. */
case class DDSketchValueAt(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "ddsketch_value_at"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(sketch: Any, q: Any): Any =
    QuantileSketch.deserialize(sketch.asInstanceOf[Array[Byte]])
      .quantile(q.asInstanceOf[Double])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared base for the vector digest lookups: works over EITHER digest
  * family (SketchFamily.of tells them apart). */
private[functions] trait DigestVector extends BinaryExpression
    with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  protected def lookup(dd: QuantileSketch.State, td: TDigest.State,
      arg: Double): Double

  override def nullSafeEval(sk: Any, arr: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    val xs = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    val (dd, td) = SketchFamily.of(bytes) match {
      case SketchFamily.QDigestSketch => (QuantileSketch.deserialize(bytes), null)
      case SketchFamily.TDigestSketch => (null, TDigest.deserialize(bytes))
      case f => throw new IllegalArgumentException(
        s"$prettyName expects a qdigest or tdigest sketch, got a ${f.name} sketch")
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      xs.map(lookup(dd, td, _)))
  }
}

/** values_at_quantiles(digest, array<q>) → array of estimates. */
case class DigestValuesAt(left: Expression, right: Expression)
    extends DigestVector {
  override def prettyName: String = "values_at_quantiles"
  override protected def lookup(dd: QuantileSketch.State,
      td: TDigest.State, q: Double): Double =
    if (dd != null) dd.quantile(q) else td.quantile(q)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** quantiles_at_values(digest, array<x>) → array of ranks. */
case class DigestQuantilesAt(left: Expression, right: Expression)
    extends DigestVector {
  override def prettyName: String = "quantiles_at_values"
  override protected def lookup(dd: QuantileSketch.State,
      td: TDigest.State, x: Double): Double =
    if (dd != null) dd.cdf(x) else td.cdf(x)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** scale_qdigest(qdigest, factor): rescaled counts, binary out. */
case class DDSketchScale(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "scale_qdigest"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(sk: Any, f: Any): Any =
    QuantileSketch.deserialize(sk.asInstanceOf[Array[Byte]])
      .scale(f.asInstanceOf[Double]).serialize()
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** quantile_at_value(qdigest, x): approximate rank of x in the sketch. */
case class DDSketchQuantileAt(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "ddsketch_quantile_at"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(sketch: Any, x: Any): Any =
    QuantileSketch.deserialize(sketch.asInstanceOf[Array[Byte]])
      .cdf(x.asInstanceOf[Double])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
