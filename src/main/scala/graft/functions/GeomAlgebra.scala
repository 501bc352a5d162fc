package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Computational-geometry algebra over the geo pack's planar model
  * (point = struct<x,y>, line/ring = array<struct<x,y>>, rings
  * implicit-closed): convex hulls, convex clipping, the segment subset
  * of the DE-9IM predicates, and WKB round-trips.
  *
  * Reference surface: `presto-geospatial/.../GeoFunctions.java`
  * ST_ConvexHull / ST_Intersection / ST_Crosses / ST_Touches /
  * ST_Overlaps / ST_GeomFromBinary / ST_AsBinary and
  * `presto-geospatial/.../aggregation/ConvexHullAggregation.java` —
  * re-implemented from the textbook algorithms (Andrew monotone chain,
  * Sutherland–Hodgman, orientation sign tests), NOT via the reference's
  * Esri runtime. General polygon union/difference/symdifference live in
  * [[GeomBoolean]] (Greiner–Hormann); full ST_Relate stays descoped.
  *
  * Canonical vertex order: every ring/hull this file emits starts at
  * the lexicographically-smallest (x, y) vertex and runs
  * counter-clockwise, so results are deterministic and oracle-replayable
  * regardless of input order or partitioning.
  *
  * Scale: convex_hull_agg's state is the running hull (+ a bounded
  * pending buffer), merged by hull-of-union — associative and tiny
  * (hull size ≪ point count), so a 100 TB hull is one partial+final
  * aggregation like any sum.
  */
object GeomAlgebra {

  private[functions] val PointStruct = new StructType()
    .add("x", DoubleType, nullable = false)
    .add("y", DoubleType, nullable = false)
  private[functions] val RingType =
    ArrayType(PointStruct, containsNull = false)

  @inline private[functions] def cross(ox: Double, oy: Double, ax: Double,
      ay: Double, bx: Double, by: Double): Double =
    (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

  /** Andrew monotone chain on flattened [x0,y0,...]: strictly-convex
    * hull, CCW from the lexicographically-smallest vertex (collinear
    * boundary points dropped, duplicates collapse). Returns flattened
    * vertices. */
  private[graft] def hull(pts: Array[Double]): Array[Double] = {
    val n = pts.length / 2
    if (n == 0) return pts
    val idx = (0 until n).sortBy(i => (pts(2 * i), pts(2 * i + 1))).toArray
    // dedup sorted points
    val ded = ArrayBuffer.empty[Int]
    idx.foreach { i =>
      if (ded.isEmpty || pts(2 * ded.last) != pts(2 * i) ||
        pts(2 * ded.last + 1) != pts(2 * i + 1)) ded += i
    }
    if (ded.length <= 2)
      return ded.toArray.flatMap(i => Seq(pts(2 * i), pts(2 * i + 1)))
    def chain(order: Seq[Int]): ArrayBuffer[Int] = {
      val h = ArrayBuffer.empty[Int]
      order.foreach { i =>
        while (h.length >= 2 && cross(
          pts(2 * h(h.length - 2)), pts(2 * h(h.length - 2) + 1),
          pts(2 * h.last), pts(2 * h.last + 1),
          pts(2 * i), pts(2 * i + 1)) <= 0) h.remove(h.length - 1)
        h += i
      }
      h
    }
    val lower = chain(ded.toSeq)
    val upper = chain(ded.reverse.toSeq)
    // drop each chain's last point (it starts the other chain)
    val ring = (lower.dropRight(1) ++ upper.dropRight(1)).toArray
    ring.flatMap(i => Array(pts(2 * i), pts(2 * i + 1)))
  }

  /** Sutherland–Hodgman: subject ring clipped to a CONVEX CCW clip
    * ring; both implicit-closed flattened. Output canonicalized (CCW
    * from lexicographic min). Empty array when disjoint. */
  private[graft] def clipConvex(subj: Array[Double],
      clip: Array[Double]): Array[Double] = {
    var cur = subj
    val nc = clip.length / 2
    var e = 0
    while (e < nc && cur.nonEmpty) {
      val ax = clip(2 * e); val ay = clip(2 * e + 1)
      val bx = clip(2 * ((e + 1) % nc)); val by = clip(2 * ((e + 1) % nc) + 1)
      val out = ArrayBuffer.empty[Double]
      val np = cur.length / 2
      var i = 0
      while (i < np) {
        val px = cur(2 * i); val py = cur(2 * i + 1)
        val qx = cur(2 * ((i + 1) % np)); val qy = cur(2 * ((i + 1) % np) + 1)
        val dp = cross(ax, ay, bx, by, px, py)
        val dq = cross(ax, ay, bx, by, qx, qy)
        if (dp >= 0) { out += px; out += py }
        if ((dp > 0 && dq < 0) || (dp < 0 && dq > 0)) {
          val t = dp / (dp - dq)
          out += px + t * (qx - px)
          out += py + t * (qy - py)
        }
        i += 1
      }
      cur = out.toArray
      e += 1
    }
    if (cur.isEmpty) cur
    else {
      // dedup consecutive (clipping can emit repeated vertices), then
      // rotate to the lexicographically-smallest start
      val np = cur.length / 2
      val keep = ArrayBuffer.empty[Double]
      var i = 0
      while (i < np) {
        val px = cur(2 * i); val py = cur(2 * i + 1)
        val lx = if (keep.isEmpty) Double.NaN else keep(keep.length - 2)
        val ly = if (keep.isEmpty) Double.NaN else keep.last
        if (keep.isEmpty || px != lx || py != ly) { keep += px; keep += py }
        i += 1
      }
      // drop a closing vertex equal to the first
      if (keep.length >= 4 && keep(0) == keep(keep.length - 2) &&
        keep(1) == keep.last) { keep.remove(keep.length - 1); keep.remove(keep.length - 1) }
      val m = keep.length / 2
      var best = 0
      i = 1
      while (i < m) {
        if (keep(2 * i) < keep(2 * best) || (keep(2 * i) == keep(2 * best) &&
          keep(2 * i + 1) < keep(2 * best + 1))) best = i
        i += 1
      }
      val out = new Array[Double](keep.length)
      i = 0
      while (i < m) {
        out(2 * i) = keep(2 * ((i + best) % m))
        out(2 * i + 1) = keep(2 * ((i + best) % m) + 1)
        i += 1
      }
      out
    }
  }

  private[functions] def toRing(flat: Array[Double]): GenericArrayData =
    new GenericArrayData((0 until flat.length / 2).map(i =>
      InternalRow(flat(2 * i), flat(2 * i + 1))))

  /** Normalize a flattened ring to CCW (shoelace sign). */
  private[graft] def toCcw(flat: Array[Double]): Array[Double] = {
    val n = flat.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += flat(2 * i) * flat(2 * j + 1) - flat(2 * j) * flat(2 * i + 1)
      i += 1
    }
    if (s >= 0) flat
    else {
      val out = new Array[Double](flat.length)
      i = 0
      while (i < n) {
        out(2 * i) = flat(2 * (n - 1 - i))
        out(2 * i + 1) = flat(2 * (n - 1 - i) + 1)
        i += 1
      }
      out
    }
  }

  /** Every turn of a CCW ring is left-or-straight ⇔ convex. */
  private[graft] def isConvexCcw(flat: Array[Double]): Boolean = {
    val n = flat.length / 2
    if (n < 3) return false
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val k = (i + 2) % n
      if (cross(flat(2 * i), flat(2 * i + 1), flat(2 * j), flat(2 * j + 1),
        flat(2 * k), flat(2 * k + 1)) < 0) return false
      i += 1
    }
    true
  }

  // ---- Column API ----
  def convexHullAgg(point: Column): Column =
    ColumnBridge.toCol(ConvexHullAgg(ColumnBridge.toExpr(point))
      .toAggregateExpression())
}

private[functions] trait RingInput {
  protected def checkRing(prettyName: String, dt: DataType): TypeCheckResult =
    if (LineOps.isPointArray(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<x:double,y:double>>, got " +
        dt.catalogString)
}

/** ST_ConvexHull (GeoFunctions.java) on a point array: canonical-order
  * strictly-convex hull. */
case class ConvexHull(child: Expression) extends UnaryExpression
    with CodegenFallback with RingInput {

  override def prettyName: String = "st_convexhull"
  override def dataType: DataType = GeomAlgebra.RingType
  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, child.dataType)

  @transient private lazy val xi = LineOps.xIdx(child.dataType)

  override def nullSafeEval(v: Any): Any =
    GeomAlgebra.toRing(GeomAlgebra.hull(LineOps.coords(v, xi)))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** convex_hull_agg(point) (ConvexHullAggregation.java): running-hull
  * state with a bounded pending buffer; merge = hull of union. */
case class ConvexHullAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Double]] {

  private val CompactAt = 512 // points buffered before re-hulling

  override def prettyName: String = "convex_hull_agg"
  override def dataType: DataType = GeomAlgebra.RingType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if st.fieldNames.toSet == Set("x", "y") &&
      st.fields.forall(_.dataType == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects struct<x:double,y:double>, got ${dt.catalogString}")
  }

  @transient private lazy val xi =
    child.dataType.asInstanceOf[StructType].fieldIndex("x")

  override def createAggregationBuffer(): ArrayBuffer[Double] =
    ArrayBuffer.empty[Double]

  private def compact(b: ArrayBuffer[Double]): Unit =
    if (b.length / 2 > CompactAt) {
      val h = GeomAlgebra.hull(b.toArray)
      b.clear()
      b ++= h
    }

  override def update(b: ArrayBuffer[Double], input: InternalRow): ArrayBuffer[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      b += row.getDouble(xi)
      b += row.getDouble(1 - xi)
      compact(b)
    }
    b
  }

  override def merge(b: ArrayBuffer[Double], o: ArrayBuffer[Double]): ArrayBuffer[Double] = {
    b ++= o
    compact(b)
    b
  }

  override def eval(b: ArrayBuffer[Double]): Any =
    if (b.isEmpty) null else GeomAlgebra.toRing(GeomAlgebra.hull(b.toArray))

  override def serialize(b: ArrayBuffer[Double]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + 8 * b.length)
    buf.putInt(b.length)
    b.foreach(buf.putDouble)
    buf.array()
  }
  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Double] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new ArrayBuffer[Double](n)
    var i = 0
    while (i < n) { b += buf.getDouble; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ConvexHullAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ConvexHullAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** ST_Intersection (GeoFunctions.java) for the convex∩polygon case:
  * Sutherland–Hodgman clip of the subject ring by a convex CCW clip
  * ring. Empty ring when disjoint. */
case class ConvexClip(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with RingInput {

  override def prettyName: String = "st_intersection"
  override def dataType: DataType = GeomAlgebra.RingType

  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, left.dataType) match {
      case TypeCheckResult.TypeCheckSuccess =>
        checkRing(prettyName, right.dataType)
      case f => f
    }

  @transient private lazy val xiL = LineOps.xIdx(left.dataType)
  @transient private lazy val xiR = LineOps.xIdx(right.dataType)

  override def nullSafeEval(s: Any, c: Any): Any = {
    // normalize both rings to CCW (either input orientation accepted);
    // a non-convex clip would silently mis-clip — reject it loudly
    val subj = GeomAlgebra.toCcw(LineOps.coords(s, xiL))
    val clip = GeomAlgebra.toCcw(LineOps.coords(c, xiR))
    require(GeomAlgebra.isConvexCcw(clip),
      "st_intersection: the clip ring must be convex (general polygon " +
        "intersection is the Greiner-Hormann path, GeomBoolean)")
    if (GeomAlgebra.isConvexCcw(subj))
      GeomAlgebra.toRing(GeomAlgebra.clipConvex(subj, clip))
    else {
      // Sutherland-Hodgman on a non-convex subject can emit a single
      // ring stitched by zero-width bridges when the true intersection
      // is disconnected — a silent wrong answer. Route non-convex
      // subjects through the Greiner-Hormann clipper instead and keep
      // this expression's single-ring contract loud.
      GeomBoolean.intersection(subj, clip) match {
        case Seq() => GeomAlgebra.toRing(Array.emptyDoubleArray)
        case Seq(one) => GeomAlgebra.toRing(one)
        case many => throw new IllegalArgumentException(
          "st_intersection: non-convex subject intersects the clip in " +
            s"${many.length} disconnected rings — not representable as a " +
            "single ring; use the GeomBoolean multipolygon surface")
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** The segment (2-point linestring) subset of ST_Crosses / ST_Touches /
  * ST_Overlaps (GeoFunctions.java → Esri relate ops; DE-9IM semantics
  * re-derived from orientation sign tests):
  *  - crosses: interiors intersect at a proper point (strict sign
  *    changes on both segments);
  *  - touches: they intersect, interiors don't cross, and any collinear
  *    overlap has zero length (boundary-only contact);
  *  - overlaps: collinear with a positive-length partial overlap,
  *    neither containing the other.
  */
case class SegmentRelation(left: Expression, right: Expression, mode: String)
    extends BinaryExpression with CodegenFallback with RingInput {

  require(Seq("crosses", "touches", "overlaps").contains(mode),
    s"unknown segment relation $mode")

  override def prettyName: String = s"st_$mode"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, left.dataType) match {
      case TypeCheckResult.TypeCheckSuccess =>
        checkRing(prettyName, right.dataType)
      case f => f
    }

  @transient private lazy val xiL = LineOps.xIdx(left.dataType)
  @transient private lazy val xiR = LineOps.xIdx(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val p = LineOps.coords(a, xiL)
    val q = LineOps.coords(b, xiR)
    require(p.length == 4 && q.length == 4,
      s"$prettyName supports 2-point segments, got " +
        s"${p.length / 2}/${q.length / 2} points")
    val d1 = GeomAlgebra.cross(q(0), q(1), q(2), q(3), p(0), p(1))
    val d2 = GeomAlgebra.cross(q(0), q(1), q(2), q(3), p(2), p(3))
    val d3 = GeomAlgebra.cross(p(0), p(1), p(2), p(3), q(0), q(1))
    val d4 = GeomAlgebra.cross(p(0), p(1), p(2), p(3), q(2), q(3))
    val proper = ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
      ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
    val collinear = d1 == 0 && d2 == 0 && d3 == 0 && d4 == 0
    // collinear interval overlap on the dominant axis
    def axis(i: Int) = if (math.abs(p(2) - p(0)) >= math.abs(p(3) - p(1)))
      Array(p(0), p(2), q(0), q(2))(i) else Array(p(1), p(3), q(1), q(3))(i)
    val (alo, ahi) = (math.min(axis(0), axis(1)), math.max(axis(0), axis(1)))
    val (blo, bhi) = (math.min(axis(2), axis(3)), math.max(axis(2), axis(3)))
    val overlapLen = math.min(ahi, bhi) - math.max(alo, blo)
    val intersects = SegmentsIntersect.segs(p(0), p(1), p(2), p(3),
      q(0), q(1), q(2), q(3))
    mode match {
      case "crosses" => proper
      case "touches" =>
        intersects && !proper && !(collinear && overlapLen > 0)
      case "overlaps" =>
        collinear && overlapLen > 0 &&
          !(alo <= blo && bhi <= ahi) && !(blo <= alo && ahi <= bhi)
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_IsSimple / ST_IsRing / ST_IsValid / geometry_invalid_reason on
  * linestrings/rings: simplicity = no self-intersection between
  * non-adjacent segments and no zero-length segment; ring additionally
  * requires closure (the pack's rings are implicit-closed, so an array
  * is a ring when its wraparound edges stay simple). O(n²) over the
  * vertex array — per-row geometry work, not a join. */
case class LineSimplicity(child: Expression, mode: String)
    extends UnaryExpression with CodegenFallback with RingInput {

  require(Seq("simple", "ring", "valid", "reason").contains(mode),
    s"unknown simplicity mode $mode")

  override def prettyName: String = mode match {
    case "simple" => "st_issimple"
    case "ring" => "st_isring"
    case "valid" => "st_isvalid"
    case "reason" => "geometry_invalid_reason"
  }
  override def dataType: DataType =
    if (mode == "reason") StringType else BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, child.dataType)

  @transient private lazy val xi = LineOps.xIdx(child.dataType)

  /** Null when valid; the defect description otherwise. `closed` treats
    * the array as implicit-closed (ring). */
  private def defect(c: Array[Double], closed: Boolean): String = {
    val n = c.length / 2
    if (closed && n < 3) return "Polygon has fewer than 3 vertices"
    var i = 0
    val segN = if (closed) n else n - 1
    while (i < segN) {
      val j2 = (i + 1) % n
      if (c(2 * i) == c(2 * j2) && c(2 * i + 1) == c(2 * j2 + 1))
        return s"Degenerate zero-length segment at vertex ${i + 1}"
      i += 1
    }
    // Adjacent fold-back spikes: consecutive collinear segments whose
    // directions oppose overlap with positive length (zero-length
    // segments are already rejected above) — e.g. the closed ring
    // (0,0),(10,0),(5,0), zero-area with a self-overlapping boundary.
    // The non-adjacent j-loop below starts at i+2 and skips these.
    i = 0
    val pairN = if (closed) segN else segN - 1
    while (i < pairN) {
      val m = (i + 1) % n
      val k = (i + 2) % n
      val cr = GeomAlgebra.cross(c(2 * i), c(2 * i + 1),
        c(2 * m), c(2 * m + 1), c(2 * k), c(2 * k + 1))
      val dot = (c(2 * m) - c(2 * i)) * (c(2 * k) - c(2 * m)) +
        (c(2 * m + 1) - c(2 * i + 1)) * (c(2 * k + 1) - c(2 * m + 1))
      if (cr == 0 && dot < 0)
        return s"Self-overlapping spike at vertex ${m + 1}"
      i += 1
    }
    i = 0
    while (i < segN) {
      val i2 = (i + 1) % n
      var j = i + 2
      while (j < segN) {
        val j2 = (j + 1) % n
        // skip the wraparound adjacency (last segment vs first)
        if (!(i == 0 && j == segN - 1 && closed) &&
          SegmentsIntersect.segs(
            c(2 * i), c(2 * i + 1), c(2 * i2), c(2 * i2 + 1),
            c(2 * j), c(2 * j + 1), c(2 * j2), c(2 * j2 + 1)))
          return s"Self-intersection between segments ${i + 1} and ${j + 1}"
        j += 1
      }
      i += 1
    }
    null
  }

  override def nullSafeEval(v: Any): Any = {
    val c = LineOps.coords(v, xi)
    val n = c.length / 2
    // ring/valid/reason accept both ring conventions: an explicit
    // closing vertex (first = last, the st_polygon tag) is stripped
    // before the implicit-closed simplicity walk
    lazy val cc = if (n >= 2 && c(0) == c(2 * n - 2) && c(1) == c(2 * n - 1))
      c.dropRight(2) else c
    mode match {
      case "simple" => defect(c, closed = false) == null
      case "ring" =>
        cc.length / 2 >= 3 && defect(cc, closed = true) == null
      case "valid" => defect(cc, closed = true) == null
      case "reason" =>
        val r = defect(cc, closed = true)
        if (r == null) null else UTF8String.fromString(r)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ST_AsBinary: the pack's line/ring as standard little-endian WKB
  * LineString (type 2), the OGC format byte-for-byte. */
case class WkbWrite(child: Expression) extends UnaryExpression
    with CodegenFallback with RingInput {

  override def prettyName: String = "st_asbinary"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, child.dataType)

  @transient private lazy val xi = LineOps.xIdx(child.dataType)

  override def nullSafeEval(v: Any): Any = {
    val c = LineOps.coords(v, xi)
    val buf = java.nio.ByteBuffer.allocate(9 + 8 * c.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(2).putInt(c.length / 2)
    c.foreach(buf.putDouble)
    buf.array()
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Polygon-with-interior-rings structural layer. The multi-ring shape
  * is `array<ring>` carrying [exterior, hole1, hole2, ...] in WKB ring
  * order; rings stay implicit-closed like the rest of the pack.
  *
  * Reference: `presto-geospatial/.../GeoFunctions.java:581` (ST_Area)
  * and `:921` (ST_Centroid) handle interior rings through the Esri
  * runtime; here the formulas generalize directly — area = exterior −
  * Σ holes, centroid = area-weighted signed combination, containment =
  * even-odd parity across every ring. Structural contract (documented,
  * unchecked — checking is O(n²) per row): holes lie inside the
  * exterior and are mutually disjoint. Boolean ops whose RESULT needs a
  * hole still fail loudly (GeomBoolean) — this layer is read/measure,
  * not algebra. */
case class HoledPolygon(child: Expression, mode: String)
    extends UnaryExpression with CodegenFallback {

  require(Seq("area", "centroid").contains(mode),
    s"unknown holed-polygon mode $mode")

  override def prettyName: String = s"st_polygon_$mode"
  override def dataType: DataType =
    if (mode == "area") DoubleType else GeomAlgebra.PointStruct

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(el, _) if LineOps.isPointArray(el) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<array<struct<x:double,y:double>>> " +
        s"([exterior, holes...]), got ${dt.catalogString}")
  }

  @transient private lazy val xi = LineOps.xIdx(
    child.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    require(arr.numElements() >= 1, s"$prettyName: polygon needs at least " +
      "the exterior ring")
    val rings = (0 until arr.numElements()).map(i =>
      LineOps.coords(arr.getArray(i), xi))
    rings.foreach(r => require(r.length >= 6,
      s"$prettyName: every ring needs >= 3 vertices"))
    // Two readings, disambiguated structurally (r8c): when every ring
    // after the first nests inside it AT DEPTH EXACTLY ONE (a flat
    // [exterior, holes...] layout — no later ring nested inside
    // another later ring), the input is a SINGLE polygon and the read
    // stays orientation-INSENSITIVE (|shoelace|, holes negative — the
    // legacy hand-built contract). Otherwise the input is a
    // MULTIPOLYGON (st_polygon_union / symdifference / splitting-bar
    // difference outputs, and — r10 — island-in-hole structures from
    // the multi-ring clipper, whose islands ARE nested in ring 1 but
    // sit under a hole) and orientation decides: CCW rings are
    // component exteriors (+), CW rings are their holes (−) — the
    // convention every holed boolean op emits and the WKB reader
    // normalizes to. A real polygon cannot carry a hole inside a hole,
    // so depth >= 2 always means nested components, never a "deep
    // hole". Before r8c a 2-component multipolygon mis-subtracted its
    // second component; before r10 an island-in-hole did.
    val signed = rings.map(GeomBoolean.signedArea)
    val singlePoly = rings.tail.forall(r =>
      GeomBoolean.inside(r(0), r(1), rings.head)) &&
      !rings.tail.exists(r => rings.tail.exists(r2 => (r2 ne r) &&
        GeomBoolean.inside(r(0), r(1), r2)))
    val weightsSeq: Seq[Double] =
      if (singlePoly) signed.head.abs +: signed.tail.map(a => -a.abs)
      else {
        require(signed.head >= 0,
          s"$prettyName: a multipolygon's first ring must be a CCW exterior")
        // a later ring enclosing the first is not a sibling component —
        // it is an exterior-swallowing "hole", i.e. the rings exceed the
        // exterior: loudly invalid in either reading
        require(!rings.tail.exists(r =>
          GeomBoolean.inside(rings.head(0), rings.head(1), r)),
          s"$prettyName: interior rings exceed the exterior area — not a " +
            "valid holed polygon")
        signed
      }
    val net = weightsSeq.sum
    require(net >= 0,
      s"$prettyName: interior rings exceed the exterior area — not a " +
        "valid holed polygon")
    mode match {
      case "area" => net
      case "centroid" =>
        // per-ring centroid via the standard polygon-centroid fold,
        // combined with +exterior/−hole area weights
        def ringCentroid(r: Array[Double]): (Double, Double) = {
          val n = r.length / 2
          var cx = 0.0; var cy = 0.0; var a2 = 0.0
          var i = 0
          while (i < n) {
            val j = (i + 1) % n
            val cr = r(2 * i) * r(2 * j + 1) - r(2 * j) * r(2 * i + 1)
            cx += (r(2 * i) + r(2 * j)) * cr
            cy += (r(2 * i + 1) + r(2 * j + 1)) * cr
            a2 += cr
            i += 1
          }
          (cx / (3 * a2), cy / (3 * a2)) // sign cancels in the ratio
        }
        require(net > 0, s"$prettyName: zero-area polygon has no centroid")
        var nx = 0.0; var ny = 0.0
        rings.indices.foreach { i =>
          // a zero-area (degenerate) ring carries zero weight but its
          // cx/(3*a2) ratio is 0/0 — skip it rather than poison the
          // weighted sum with NaN*0 (ADVICE r6)
          if (weightsSeq(i) != 0.0) {
            val (cx, cy) = ringCentroid(rings(i))
            // weight: exteriors add, holes subtract (mode-appropriate
            // sign from the shared single-vs-multipolygon reading)
            nx += cx * weightsSeq(i); ny += cy * weightsSeq(i)
          }
        }
        InternalRow(nx / net, ny / net)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** st_polygon_contains([exterior, holes...], point): even-odd parity
  * across every ring — inside the exterior an ODD number of rings deep
  * means inside the polygon, which handles holes (and islands in holes)
  * with no case analysis. On-boundary points follow each ring's strict
  * parity (the pack's general-position contract). */
case class HoledContains(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "st_polygon_contains"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(el, _), st: StructType)
        if LineOps.isPointArray(el) &&
          st.fieldNames.toSet == Set("x", "y") &&
          st.fields.forall(_.dataType == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<ring>, struct<x,y>), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }

  @transient private lazy val xiL = LineOps.xIdx(
    left.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val xiP =
    right.dataType.asInstanceOf[StructType].fieldIndex("x")

  override def nullSafeEval(rs: Any, p: Any): Any = {
    val arr = rs.asInstanceOf[ArrayData]
    val row = p.asInstanceOf[InternalRow]
    val px = row.getDouble(xiP)
    val py = row.getDouble(1 - xiP)
    var in = false
    (0 until arr.numElements()).foreach { i =>
      if (GeomBoolean.inside(px, py, LineOps.coords(arr.getArray(i), xiL)))
        in = !in
    }
    in
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** st_polygon_from_binary: WKB Polygon (type 3) with any ring count →
  * [exterior, holes...]; closing vertices dropped (implicit-closed),
  * exterior normalized CCW and holes CW (the WKB/shapefile convention),
  * both endiannesses accepted. The single-ring `st_geomfrombinary`
  * keeps its loud no-holes stance for the RingType surface. */
case class WkbPolygonRead(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def prettyName: String = "st_polygon_from_binary"
  override def dataType: DataType = GeomBoolean.MultiType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects varbinary, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val buf = java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    buf.order(if (buf.get() == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    val geomType = buf.getInt
    require(geomType == 3,
      s"$prettyName: WKB geometry type $geomType is not a polygon")
    val nRings = buf.getInt
    require(nRings >= 1, s"$prettyName: polygon with no rings")
    val rings = (0 until nRings).map { ri =>
      val n = buf.getInt
      val ring = Array.fill(2 * n)(buf.getDouble)
      val open =
        if (n >= 2 && ring(0) == ring(2 * n - 2) && ring(1) == ring(2 * n - 1))
          ring.dropRight(2)
        else ring
      require(open.length >= 6,
        s"$prettyName: ring $ri has fewer than 3 distinct vertices")
      val ccw = GeomAlgebra.toCcw(open)
      if (ri == 0) ccw
      else {
        // holes run CW: reverse the CCW-normalized ring vertex-wise
        // (pairwise — a flat reverse would break (x,y) adjacency)
        val m = ccw.length / 2
        val out = new Array[Double](ccw.length)
        var i = 0
        while (i < m) {
          out(2 * i) = ccw(2 * (m - 1 - i))
          out(2 * i + 1) = ccw(2 * (m - 1 - i) + 1)
          i += 1
        }
        out
      }
    }
    new GenericArrayData(rings.map(GeomAlgebra.toRing).toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** st_polygon_as_binary: [exterior, holes...] → little-endian WKB
  * Polygon with explicit closing vertices, byte-for-byte OGC. */
case class WkbPolygonWrite(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def prettyName: String = "st_polygon_as_binary"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(el, _) if LineOps.isPointArray(el) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<array<struct<x,y>>>, got " +
        dt.catalogString)
  }

  @transient private lazy val xi = LineOps.xIdx(
    child.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val rings = (0 until arr.numElements()).map(i =>
      LineOps.coords(arr.getArray(i), xi))
    val total = 9 + rings.map(r => 4 + 8 * (r.length + 2)).sum
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(3).putInt(rings.length)
    rings.foreach { r =>
      buf.putInt(r.length / 2 + 1)
      r.foreach(buf.putDouble)
      buf.putDouble(r(0)).putDouble(r(1)) // explicit closing vertex
    }
    buf.array()
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ST_GeomFromBinary: WKB Point (1) → 1-point array, LineString (2) →
  * the points, Polygon (3) → the exterior ring with the repeated
  * closing vertex dropped (the pack's implicit-closed convention);
  * big- and little-endian both accepted. */
case class WkbRead(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def prettyName: String = "st_geomfrombinary"
  override def dataType: DataType = GeomAlgebra.RingType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects varbinary, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(if (buf.get() == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    val geomType = buf.getInt
    val flat: Array[Double] = geomType match {
      case 1 => Array(buf.getDouble, buf.getDouble)
      case 2 =>
        val n = buf.getInt
        Array.fill(2 * n)(buf.getDouble)
      case 3 =>
        val rings = buf.getInt
        require(rings == 1, "st_geomfrombinary: only single-ring polygons " +
          "are representable on the ring surface (holes unsupported here " +
          s"— use st_polygon_from_binary), got $rings rings")
        val n = buf.getInt
        val ring = Array.fill(2 * n)(buf.getDouble)
        // drop the repeated closing vertex (implicit-closed convention)
        if (n >= 2 && ring(0) == ring(2 * n - 2) && ring(1) == ring(2 * n - 1))
          ring.dropRight(2)
        else ring
      case t => throw new IllegalArgumentException(
        s"st_geomfrombinary: unsupported WKB geometry type $t " +
          "(point/linestring/polygon)")
    }
    GeomAlgebra.toRing(flat)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
