package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, Decimal, DecimalType, DoubleType, NumericType}

/** The t-digest quantile sketch — Presto's second statistical digest
  * family (`presto-main/src/main/java/com/facebook/presto/tdigest/
  * TDigest.java`, SQL surface `TDigestFunctions.java`: `tdigest_agg`,
  * `merge_tdigest`, `value_at_quantile`, `quantile_at_value`,
  * `scale_tdigest`), complementing the DDSketch-style qdigest in
  * [[QuantileSketch]]: rank-accurate near the tails (cluster sizes follow
  * the k1 scale function, tiny at q→0/1), where the log-bucket sketch is
  * value-relative-error everywhere.
  *
  * Algorithm per Dunning & Ertl, "Computing Extremely Accurate Quantiles
  * Using t-Digests" (arXiv:1902.04023): buffered inserts, then a merge
  * pass that greedily absorbs sorted neighbors while
  * k(q_right) − k(q_left) ≤ 1 under k(q) = δ/(2π)·asin(2q−1).
  *
  * Scale notes (100 TB): bounded state (≈δ centroids ≈ 1.6 KB at δ=100),
  * map-side partial aggregation, merge = concat + one compress pass — the
  * same shuffle profile as the HLL/qdigest packs. Unlike the DDSketch,
  * centroid placement depends on merge order, so re-aggregation is
  * tolerance-equal, not byte-equal — queries gate estimates against exact
  * quantiles, not against byte identity.
  */
object TDigest {

  // Insert buffer: one compress per BufferLimit inserts, each an
  // O(buffer log buffer + centroids) sorted-run merge. At 2048 the full
  // 600k-row sf0.1 build measures 0.8 s/pass (2.6x the DDSketch's
  // hashmap insert — the price of rank-accurate tails).
  private val BufferLimit = 2048

  /** tdigest_agg's default compression (TDigestFunctions.java). */
  val DefaultCompression: Double = 100.0

  final class State(val compression: Double) {
    private[graft] var means: Array[Double] = Array.empty
    private[graft] var weights: Array[Double] = Array.empty
    // Primitive insert buffer (grown by doubling up to BufferLimit) — a
    // generic ArrayBuffer[Double] boxes every insert, which dominated the
    // 600k-row build profile. bufW stays null while every buffered weight
    // is 1.0 (the unweighted common case), which also unlocks the
    // primitive Arrays.sort path in compress().
    private var bufM = new Array[Double](64)
    private var bufW: Array[Double] = null
    private var bufN = 0
    private[functions] var vMin = Double.PositiveInfinity
    private[functions] var vMax = Double.NegativeInfinity
    private[graft] var total = 0.0

    private def ensureCapacity(): Unit =
      if (bufN == bufM.length && bufN < BufferLimit) {
        val cap = math.min(bufM.length * 2, BufferLimit)
        bufM = java.util.Arrays.copyOf(bufM, cap)
        if (bufW != null) bufW = java.util.Arrays.copyOf(bufW, cap)
      }

    def insert(x: Double, w: Double = 1.0): Unit = {
      require(w > 0, s"weight must be positive, got $w")
      if (w != 1.0 && bufW == null) {
        bufW = new Array[Double](bufM.length)
        java.util.Arrays.fill(bufW, 0, bufN, 1.0)
      }
      ensureCapacity()
      bufM(bufN) = x
      if (bufW != null) bufW(bufN) = w
      bufN += 1
      if (x < vMin) vMin = x
      if (x > vMax) vMax = x
      total += w
      if (bufN >= BufferLimit) compress()
    }

    def mergeWith(o: State): Unit = {
      require(o.compression == compression,
        "cannot merge t-digests of different compression")
      o.compress()
      var i = 0
      while (i < o.means.length) {
        // total updates per-centroid so a mid-loop compress sees the
        // right k() normalization
        if (o.weights(i) != 1.0 && bufW == null) {
          bufW = new Array[Double](bufM.length)
          java.util.Arrays.fill(bufW, 0, bufN, 1.0)
        }
        ensureCapacity()
        bufM(bufN) = o.means(i)
        if (bufW != null) bufW(bufN) = o.weights(i)
        bufN += 1
        total += o.weights(i)
        if (bufN >= BufferLimit) compress()
        i += 1
      }
      if (o.vMin < vMin) vMin = o.vMin
      if (o.vMax > vMax) vMax = o.vMax
      compress()
    }

    private def k(q: Double): Double = {
      val c = math.max(-1.0, math.min(1.0, 2 * q - 1))
      compression / (2 * math.Pi) * math.asin(c)
    }

    /** Sort ONLY the buffer, then two-pointer-merge it with the
      * already-sorted centroid run while applying the k-constraint —
      * O(buf log buf + total) per compress instead of resorting
      * everything (the insert hot path under a 100 TB aggregation). */
    private[graft] def compress(): Unit = {
      if (bufN == 0) return
      val bn = bufN
      // sorted views of the buffer: primitive dual-pivot sort when all
      // weights are 1.0; a weight-carrying insertion into sorted order
      // (encoded index sort) otherwise
      var sm: Array[Double] = null
      var sw: Array[Double] = null
      if (bufW == null) {
        sm = java.util.Arrays.copyOf(bufM, bn)
        java.util.Arrays.sort(sm)
      } else {
        // weighted buffers only arise from merges / weighted sketches
        // (small: at most the centroid count per feed) — the boxed
        // index sort is fine off the hot path
        val bIdx = new Array[Integer](bn)
        var i = 0
        while (i < bn) { bIdx(i) = i; i += 1 }
        val bm = bufM
        java.util.Arrays.sort(bIdx,
          (a: Integer, b: Integer) =>
            java.lang.Double.compare(bm(a.intValue), bm(b.intValue)))
        sm = new Array[Double](bn)
        sw = new Array[Double](bn)
        i = 0
        while (i < bn) {
          val j = bIdx(i).intValue
          sm(i) = bufM(j); sw(i) = bufW(j); i += 1
        }
      }
      val om = means
      val ow = weights
      val outM = new Array[Double](om.length + bn)
      val outW = new Array[Double](om.length + bn)
      var outN = 0
      var ci = 0
      var bi = 0
      var curSum = 0.0
      var curW = 0.0
      var wSoFar = 0.0
      var started = false
      while (ci < om.length || bi < bn) {
        var m = 0.0
        var w = 0.0
        if (ci < om.length && (bi >= bn || om(ci) <= sm(bi))) {
          m = om(ci); w = ow(ci); ci += 1
        } else {
          m = sm(bi); w = if (sw == null) 1.0 else sw(bi); bi += 1
        }
        if (!started) {
          curSum = m * w; curW = w; started = true
        } else if (k((wSoFar + curW + w) / total) - k(wSoFar / total) <= 1.0) {
          curSum += m * w; curW += w
        } else {
          outM(outN) = curSum / curW; outW(outN) = curW; outN += 1
          wSoFar += curW
          curSum = m * w; curW = w
        }
      }
      outM(outN) = curSum / curW; outW(outN) = curW; outN += 1
      bufN = 0
      means = java.util.Arrays.copyOf(outM, outN)
      weights = java.util.Arrays.copyOf(outW, outN)
    }

    /** Centroid i's value span: halfway to each neighbor, pinned to the
      * observed min/max at the ends (TDigest.java interpolation shape). */
    private def edges(i: Int): (Double, Double) = {
      val left = if (i == 0) vMin else (means(i - 1) + means(i)) / 2
      val right =
        if (i == means.length - 1) vMax else (means(i) + means(i + 1)) / 2
      (left, right)
    }

    def quantile(q: Double): Double = {
      require(q >= 0.0 && q <= 1.0,
        s"quantile must be between 0 and 1, got $q")
      compress()
      if (total == 0) return Double.NaN
      if (means.length == 1) return means(0)
      val t = q * total
      var cum = 0.0
      var i = 0
      while (i < means.length) {
        if (t <= cum + weights(i)) {
          val (l, r) = edges(i)
          return l + (t - cum) / weights(i) * (r - l)
        }
        cum += weights(i)
        i += 1
      }
      vMax
    }

    /** Approximate CDF: fraction of mass at or below x. */
    def cdf(x: Double): Double = {
      compress()
      if (total == 0) return Double.NaN
      if (x < vMin) return 0.0
      if (x >= vMax) return 1.0
      var cum = 0.0
      var i = 0
      while (i < means.length) {
        val (l, r) = edges(i)
        if (x < r) {
          val within = if (r > l) (x - l) / (r - l) else 1.0
          return math.max(0.0, math.min(1.0,
            (cum + weights(i) * within) / total))
        }
        cum += weights(i)
        i += 1
      }
      1.0
    }

    /** scale_tdigest: multiply every weight (TDigestFunctions.java). */
    def scale(factor: Double): State = {
      require(factor > 0, "scale factor must be positive")
      compress()
      val st = new State(compression)
      st.means = means.clone()
      st.weights = weights.map(_ * factor)
      st.vMin = vMin; st.vMax = vMax; st.total = total * factor
      st
    }

    def serialize(): Array[Byte] = {
      compress()
      val buf = ByteBuffer.allocate(8 * 3 + 4 + 16 * means.length)
      buf.putDouble(compression).putDouble(vMin).putDouble(vMax)
      buf.putInt(means.length)
      var i = 0
      while (i < means.length) {
        buf.putDouble(means(i)); buf.putDouble(weights(i)); i += 1
      }
      buf.array()
    }
  }

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    val st = new State(buf.getDouble)
    st.vMin = buf.getDouble
    st.vMax = buf.getDouble
    val n = buf.getInt
    st.means = new Array[Double](n)
    st.weights = new Array[Double](n)
    var i = 0
    var total = 0.0
    while (i < n) {
      st.means(i) = buf.getDouble
      st.weights(i) = buf.getDouble
      total += st.weights(i)
      i += 1
    }
    st.total = total
    st
  }

  /** Column API: tdigest_agg(x[, w]). */
  def sketch(c: Column, compression: Double = DefaultCompression): Column =
    ColumnBridge.toCol(TDigestAgg(ColumnBridge.toExpr(c), None, compression)
      .toAggregateExpression())

  /** Column API: merge_tdigest over serialized digests. */
  def merge(c: Column): Column = SketchFamily.TDigestSketch.mergeCol(c)

  /** Column API: value_at_quantile(tdigest, q). */
  def valueAt(c: Column, q: Double): Column =
    ColumnBridge.toCol(TDigestValueAt(ColumnBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(q)))

  /** Column API: quantile_at_value(tdigest, x). */
  def quantileAt(c: Column, x: Double): Column =
    ColumnBridge.toCol(TDigestQuantileAt(ColumnBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(x)))

  /** Column API: scale_tdigest(tdigest, factor). */
  def scaled(c: Column, factor: Double): Column =
    ColumnBridge.toCol(TDigestScale(ColumnBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(factor)))
}

/** tdigest_agg: numeric input (+ optional numeric weight) → binary digest. */
case class TDigestAgg(child: Expression, weight: Option[Expression],
    compression: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchBuild[TDigest.State] {

  override def prettyName: String = "tdigest_agg"
  override protected def family = SketchFamily.TDigestSketch
  override def children: Seq[Expression] = child +: weight.toSeq

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(!_.dataType.isInstanceOf[NumericType]) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects numeric arguments, got ${c.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  private def toDouble(e: Expression): Any => Double = e.dataType match {
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case _ => v => v.asInstanceOf[Number].doubleValue()
  }
  @transient private lazy val valueOf = toDouble(child)
  @transient private lazy val weightOf = weight.map(toDouble)

  override def createAggregationBuffer(): TDigest.State =
    new TDigest.State(compression)

  override def update(b: TDigest.State, input: InternalRow): TDigest.State = {
    val v = child.eval(input)
    if (v != null) weight match {
      case None => b.insert(valueOf(v))
      case Some(we) =>
        val w = we.eval(input)
        if (w != null) b.insert(valueOf(v), weightOf.get(w))
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): TDigestAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TDigestAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0),
      weight = weight.map(_ => newChildren(1)))
}

private[functions] trait TDigestScalar extends BinaryExpression
    with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
}

/** value_at_quantile(tdigest, q) — per group, interpreted path is fine. */
case class TDigestValueAt(left: Expression, right: Expression)
    extends TDigestScalar {
  override def prettyName: String = "tdigest_value_at"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sk: Any, q: Any): Any =
    TDigest.deserialize(sk.asInstanceOf[Array[Byte]])
      .quantile(q.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** quantile_at_value(tdigest, x) — the inverse CDF lookup. */
case class TDigestQuantileAt(left: Expression, right: Expression)
    extends TDigestScalar {
  override def prettyName: String = "tdigest_quantile_at"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(sk: Any, x: Any): Any =
    TDigest.deserialize(sk.asInstanceOf[Array[Byte]])
      .cdf(x.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** scale_tdigest(tdigest, factor) — rescale weights, binary out. */
case class TDigestScale(left: Expression, right: Expression)
    extends TDigestScalar {
  override def prettyName: String = "scale_tdigest"
  override def dataType: DataType = BinaryType
  override def nullSafeEval(sk: Any, f: Any): Any =
    TDigest.deserialize(sk.asInstanceOf[Array[Byte]])
      .scale(f.asInstanceOf[Double]).serialize()
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}
