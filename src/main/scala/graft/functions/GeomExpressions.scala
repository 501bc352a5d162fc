package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, StructType}

/** `st_intersects(a, b)` / `st_disjoint(a, b)` over this pack's
  * `array<struct<x,y>>` linestrings (presto-geospatial GeoFunctions
  * ST_Intersects/ST_Disjoint, restricted to the point/linestring subset —
  * polygon interiors stay with st_contains' ray casting).
  *
  * Predicate: any segment pair shares a point — the classic orientation
  * (cross-product sign) test plus collinear on-segment checks, endpoints
  * inclusive, so touching and collinear-overlapping lines intersect. A
  * single-point array acts as the degenerate segment (p, p). All
  * arithmetic is products/differences of the input doubles — exact for
  * the fixture's small-decimal coordinates and bit-reproducible in the
  * DuckDB oracle replay.
  *
  * O(n·m) pairwise — geometry scalar work over per-row vertex arrays,
  * same stance as the st_area/st_length folds (not a hot aggregate
  * path). CodegenFallback: called once per row pair on small arrays.
  */
case class SegmentsIntersect(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "st_intersects"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (LineOps.isPointArray(left.dataType) &&
      LineOps.isPointArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<struct<x:double,y:double>> " +
        s"linestrings, got (${left.dataType.catalogString}, " +
        s"${right.dataType.catalogString})")

  @transient private lazy val (lx, rx) =
    (LineOps.xIdx(left.dataType), LineOps.xIdx(right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val pa = LineOps.coords(a, lx)
    val pb = LineOps.coords(b, rx)
    if (pa.isEmpty || pb.isEmpty) return false
    val na = math.max(1, pa.length / 2 - 1)
    val nb = math.max(1, pb.length / 2 - 1)
    var i = 0
    while (i < na) {
      val (ax1, ay1) = (pa(2 * i), pa(2 * i + 1))
      val j2 = math.min(i + 1, pa.length / 2 - 1)
      val (ax2, ay2) = (pa(2 * j2), pa(2 * j2 + 1))
      var j = 0
      while (j < nb) {
        val (bx1, by1) = (pb(2 * j), pb(2 * j + 1))
        val k2 = math.min(j + 1, pb.length / 2 - 1)
        val (bx2, by2) = (pb(2 * k2), pb(2 * k2 + 1))
        if (SegmentsIntersect.segs(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2))
          return true
        j += 1
      }
      i += 1
    }
    false
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared linestring plumbing for the line_* expressions. */
private[functions] object LineOps {
  def isPointArray(dt: DataType): Boolean = dt match {
    case ArrayType(st: StructType, _) =>
      st.fields.length == 2 &&
        st.fields.forall(_.dataType == DoubleType) &&
        st.fieldNames.toSet == Set("x", "y")
    case _ => false
  }

  def xIdx(dt: DataType): Int = dt.asInstanceOf[ArrayType].elementType
    .asInstanceOf[StructType].fieldIndex("x")

  /** Flattened [x0,y0,x1,y1,…]. */
  def coords(v: Any, xi: Int): Array[Double] = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      out(2 * i) = row.getDouble(xi)
      out(2 * i + 1) = row.getDouble(1 - xi)
      i += 1
    }
    out
  }
}

/** `line_locate_point(line, point)` (GeoFunctions.java:437, JTS
  * LengthIndexedLine.indexOf / getLength): the 2D-length fraction
  * [0, 1] along the line of the point's nearest projection. NULL when
  * either input is empty, like the reference's @SqlNullable; ties take
  * the earliest segment (JTS walk order). Pure per-row arithmetic; the
  * oracle replays the identical projection/argmin over unnested
  * segments.
  */
case class LineLocatePoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "line_locate_point"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (LineOps.isPointArray(left.dataType) &&
      right.dataType.isInstanceOf[StructType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<x,y>> line, struct<x,y> point)")

  @transient private lazy val lxi = LineOps.xIdx(left.dataType)
  @transient private lazy val pxi =
    right.dataType.asInstanceOf[StructType].fieldIndex("x")

  override def nullSafeEval(l: Any, p: Any): Any = {
    val c = LineOps.coords(l, lxi)
    if (c.length < 2) return null
    val prow = p.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val px = prow.getDouble(pxi)
    val py = prow.getDouble(1 - pxi)
    var before = 0.0
    var total = 0.0
    var bestD2 = Double.PositiveInfinity
    var bestLoc = 0.0
    var i = 0
    val nSeg = c.length / 2 - 1
    while (i < math.max(1, nSeg)) {
      val ax = c(2 * i); val ay = c(2 * i + 1)
      val bi = math.min(i + 1, c.length / 2 - 1)
      val bx = c(2 * bi); val by = c(2 * bi + 1)
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      val t =
        if (len2 == 0.0) 0.0
        else math.max(0.0, math.min(1.0,
          ((px - ax) * dx + (py - ay) * dy) / len2))
      val cx = ax + t * dx; val cy = ay + t * dy
      val d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
      val segLen = math.sqrt(len2)
      if (d2 < bestD2) { bestD2 = d2; bestLoc = before + t * segLen }
      before += segLen
      total += segLen
      i += 1
    }
    if (total == 0.0) 0.0 else bestLoc / total
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `line_interpolate_point(line, fraction)` (GeoFunctions.java:462, JTS
  * LengthIndexedLine.extractPoint): the point at `fraction` of the
  * line's 2D length, walking segments in order. Fraction outside [0, 1]
  * fails loudly with the reference's message; an empty line yields NULL
  * (the reference returns an empty point — NULL is this pack's empty).
  */
case class LineInterpolatePoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "line_interpolate_point"
  override def nullable: Boolean = true
  override def dataType: DataType = new StructType()
    .add("x", DoubleType, nullable = false)
    .add("y", DoubleType, nullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (LineOps.isPointArray(left.dataType) &&
      right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<x,y>> line, double fraction)")

  @transient private lazy val lxi = LineOps.xIdx(left.dataType)

  override def nullSafeEval(l: Any, f: Any): Any = {
    val fraction = f.asInstanceOf[Double]
    require(fraction >= 0.0 && fraction <= 1.0,
      s"line_interpolate_point: Fraction must be between 0 and 1, but is $fraction")
    val c = LineOps.coords(l, lxi)
    if (c.length == 0) return null
    if (c.length == 2)
      return org.apache.spark.sql.catalyst.InternalRow(c(0), c(1))
    var total = 0.0
    var i = 0
    val nSeg = c.length / 2 - 1
    while (i < nSeg) {
      val dx = c(2 * i + 2) - c(2 * i); val dy = c(2 * i + 3) - c(2 * i + 1)
      total += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    val target = fraction * total
    var acc = 0.0
    i = 0
    while (i < nSeg) {
      val ax = c(2 * i); val ay = c(2 * i + 1)
      val dx = c(2 * i + 2) - ax; val dy = c(2 * i + 3) - ay
      val segLen = math.sqrt(dx * dx + dy * dy)
      if (acc + segLen >= target && segLen > 0.0) {
        val t = (target - acc) / segLen
        return org.apache.spark.sql.catalyst.InternalRow(
          ax + t * dx, ay + t * dy)
      }
      acc += segLen
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      c(c.length - 2), c(c.length - 1))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `simplify_geometry(line, tolerance)` (GeoFunctions.java:758; the
  * reference delegates to JTS topology-preserving simplification, which
  * reduces to Douglas-Peucker for simple non-self-intersecting
  * linestrings — the only shapes this pack represents; divergence on
  * pathological self-intersecting inputs is documented here).
  * Endpoints always survive; an interior vertex survives iff its
  * perpendicular distance to the current chord exceeds the tolerance.
  * Guards mirror the reference: NaN and negative tolerances fail
  * loudly, tolerance 0 returns the input unchanged.
  */
case class SimplifyGeometry(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "simplify_geometry"
  override def dataType: DataType = left.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    if (LineOps.isPointArray(left.dataType) && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<x,y>> line, double tolerance)")

  @transient private lazy val lxi = LineOps.xIdx(left.dataType)

  override def nullSafeEval(l: Any, t: Any): Any = {
    val tol = t.asInstanceOf[Double]
    if (tol.isNaN) sys.error("distanceTolerance is NaN")
    if (tol < 0) sys.error("distanceTolerance is negative")
    val arr = l.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // pass-through paths COPY: unsafe-backed input arrays may alias the
    // scan's row buffer, which is reused after eval returns
    if (tol == 0 || n <= 2) return arr.copy()
    val c = LineOps.coords(l, lxi)
    val keep = new Array[Boolean](n)
    keep(0) = true
    keep(n - 1) = true
    // Douglas-Peucker, explicit stack
    var stack = List((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.head
      stack = stack.tail
      if (hi > lo + 1) {
        val ax = c(2 * lo); val ay = c(2 * lo + 1)
        val bx = c(2 * hi); val by = c(2 * hi + 1)
        val dx = bx - ax; val dy = by - ay
        val chordLen = math.sqrt(dx * dx + dy * dy)
        var best = -1
        var bestD = -1.0
        var i = lo + 1
        while (i < hi) {
          val px = c(2 * i); val py = c(2 * i + 1)
          val d =
            if (chordLen == 0.0)
              math.sqrt((px - ax) * (px - ax) + (py - ay) * (py - ay))
            else math.abs(dx * (py - ay) - dy * (px - ax)) / chordLen
          if (d > bestD) { bestD = d; best = i }
          i += 1
        }
        if (bestD > tol) {
          keep(best) = true
          stack = (lo, best) :: (best, hi) :: stack
        }
      }
    }
    val out = Array.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
    var i = 0
    // output keeps the INPUT element field order (dataType = left type)
    while (i < n) {
      if (keep(i)) out += (
        if (lxi == 0)
          org.apache.spark.sql.catalyst.InternalRow(c(2 * i), c(2 * i + 1))
        else
          org.apache.spark.sql.catalyst.InternalRow(c(2 * i + 1), c(2 * i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.result().asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SegmentsIntersect {

  @inline private def cross(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  @inline private def onSeg(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Boolean =
    math.min(ax, bx) <= cx && cx <= math.max(ax, bx) &&
      math.min(ay, by) <= cy && cy <= math.max(ay, by)

  /** Segment (a1,a2) intersects segment (b1,b2), endpoints inclusive. */
  private[functions] def segs(a1x: Double, a1y: Double, a2x: Double,
      a2y: Double, b1x: Double, b1y: Double, b2x: Double,
      b2y: Double): Boolean = {
    val d1 = cross(b1x, b1y, b2x, b2y, a1x, a1y)
    val d2 = cross(b1x, b1y, b2x, b2y, a2x, a2y)
    val d3 = cross(a1x, a1y, a2x, a2y, b1x, b1y)
    val d4 = cross(a1x, a1y, a2x, a2y, b2x, b2y)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
    else if (d1 == 0 && onSeg(b1x, b1y, b2x, b2y, a1x, a1y)) true
    else if (d2 == 0 && onSeg(b1x, b1y, b2x, b2y, a2x, a2y)) true
    else if (d3 == 0 && onSeg(a1x, a1y, a2x, a2y, b1x, b1y)) true
    else if (d4 == 0 && onSeg(a1x, a1y, a2x, a2y, b2x, b2y)) true
    else false
  }
}
