package graft.functions

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Polygon boolean algebra — ST_Union / ST_Difference / ST_SymDifference
  * / ST_Intersection / geometry_union (`presto-geospatial/.../
  * GeoFunctions.java:581,589,921,1007`) over the geo pack's
  * implicit-closed rings and polygons with holes, implemented from the
  * Greiner–Hormann clipping algorithm (Greiner & Hormann, ACM TOG 1998 —
  * a public textbook algorithm; the reference delegates to the Esri
  * runtime instead) in Foster & Hormann's multi-ring form.
  *
  * One clipper answers every op: [[clipMulti]] runs the GH machinery
  * over all (subject ring, clip ring) pairs at once and
  * [[clipMultiRobust]] resolves boundary contact. The ring-typed ops
  * (`union`, `intersection`, `difference`, `symDifference`), the
  * structural ones (`holed*`, `*Poly`) and every SQL spelling
  * ([[PolyBool]]) are thin calls of it.
  *
  * Contract and honest limits:
  *  - inputs are SIMPLE rings or polygons with holes ([exterior,
  *    holes...], any orientation; normalized by nesting depth);
  *  - results are MULTIPOLYGONS with holes: `array<ring>` blocks of
  *    [exterior CCW, its holes CW...], each ring canonical (from its
  *    lexicographically-smallest vertex), blocks sorted by start
  *    vertex — deterministic and oracle-replayable. Presto's GEOMETRY
  *    collapses a 1-component multipolygon to a polygon; the structural
  *    model keeps the array container.
  *  - the ring-typed ops promise hole-free components: a result that
  *    needs an interior ring (a clip strictly inside the subject, a
  *    donut union) fails loudly there, which `addRing` relies on.
  *  - BOUNDARY-CONTACT configurations (vertex-on-edge, coincident
  *    vertices, collinear overlapping edges — touching parcels) resolve
  *    via a deterministic micro-perturbation retry (the standard
  *    degeneracy treatment for GH clipping): areas are correct to
  *    O(1e-9·scale). General-position inputs — the overwhelmingly
  *    common case — are exact.
  *
  * Scale: pure per-row scalar work (O((n+m)²) segment pairing on
  * small vertex counts), no joins, no state — scan-speed like the rest
  * of the geometry pack.
  */
object GeomBoolean {

  // ---- Greiner–Hormann vertex node ----
  private final class Node(val x: Double, val y: Double) {
    var next: Node = _
    var prev: Node = _
    var intersect = false
    var neighbor: Node = _
    var entry = false
    var visited = false
    var alpha = 0.0 // parametric position on its source edge
  }

  /** Signed area (shoelace) of a flattened implicit-closed ring. */
  private[graft] def signedArea(flat: Array[Double]): Double = {
    val n = flat.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += flat(2 * i) * flat(2 * j + 1) - flat(2 * j) * flat(2 * i + 1)
      i += 1
    }
    s / 2.0
  }

  private def requireRing(flat: Array[Double]): Unit =
    require(flat.length >= 6, "polygon boolean ops need >= 3 vertices")

  /** Strict even-odd point-in-polygon; any on-boundary point is a
    * degeneracy the caller must have excluded. */
  private[graft] def inside(px: Double, py: Double, poly: Array[Double]): Boolean = {
    val n = poly.length / 2
    var in = false
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val yi = poly(2 * i + 1); val yj = poly(2 * j + 1)
      val xi = poly(2 * i); val xj = poly(2 * j)
      if ((yi > py) != (yj > py)) {
        val xint = xi + (py - yi) / (yj - yi) * (xj - xi)
        if (px < xint) in = !in
      }
      i += 1
    }
    in
  }

  private def degenerate(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"polygon boolean op: degenerate configuration ($msg); " +
        "general-position inputs required")

  /** Boundary-contact degeneracies (vertex-on-edge, coincident
    * vertices, collinear overlapping edges) are RECOVERABLE by the
    * perturbation retry below — typed so the wrappers can distinguish
    * them from genuinely unrepresentable results (holes). */
  private final class ContactDegeneracy(msg: String)
      extends IllegalArgumentException(msg)

  private def contactDegenerate(msg: String): Nothing =
    throw new ContactDegeneracy(
      s"polygon boolean op: boundary contact ($msg)")

  /** Point exactly on the ring's boundary (vertex or edge-interior). */
  private def onBoundary(px: Double, py: Double, poly: Array[Double]): Boolean = {
    val n = poly.length / 2
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val ax = poly(2 * i); val ay = poly(2 * i + 1)
      val bx = poly(2 * j); val by = poly(2 * j + 1)
      val crossV = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
      if (crossV == 0 &&
        math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
        math.min(ay, by) <= py && py <= math.max(ay, by)) return true
      i += 1
    }
    false
  }

  /** Any strictly-interior edge crossing between the two rings. */
  private def hasProperCrossing(a: Array[Double], b: Array[Double]): Boolean = {
    val na = a.length / 2; val nb = b.length / 2
    var i = 0
    while (i < na) {
      val i2 = (i + 1) % na
      var j = 0
      while (j < nb) {
        val j2 = (j + 1) % nb
        val d1x = a(2 * i2) - a(2 * i); val d1y = a(2 * i2 + 1) - a(2 * i + 1)
        val d2x = b(2 * j2) - b(2 * j); val d2y = b(2 * j2 + 1) - b(2 * j + 1)
        val denom = d1x * d2y - d1y * d2x
        if (denom != 0) {
          val tA = ((b(2 * j) - a(2 * i)) * d2y - (b(2 * j + 1) - a(2 * i + 1)) * d2x) / denom
          val tB = ((b(2 * j) - a(2 * i)) * d1y - (b(2 * j + 1) - a(2 * i + 1)) * d1x) / denom
          if (tA > 0 && tA < 1 && tB > 0 && tB < 1) return true
        }
        j += 1
      }
      i += 1
    }
    false
  }

  /** `outer` fully covers `inner`: every inner vertex inside-or-on
    * outer and no proper edge crossing — the subsumption fast path the
    * idempotent union fold needs (boundary-coincident containment is
    * legal here, unlike in the general clipper). */
  private[graft] def covers(outer: Array[Double], inner: Array[Double]): Boolean = {
    if (hasProperCrossing(outer, inner)) return false
    var i = 0
    while (i < inner.length) {
      val px = inner(i); val py = inner(i + 1)
      if (!onBoundary(px, py, outer) && !inside(px, py, outer)) return false
      i += 2
    }
    true
  }

  /** Rotate a CCW flattened ring to start at its lex-min vertex. */
  private def canonical(flat: Array[Double]): Array[Double] = {
    val n = flat.length / 2
    var best = 0
    var i = 1
    while (i < n) {
      if (flat(2 * i) < flat(2 * best) || (flat(2 * i) == flat(2 * best) &&
        flat(2 * i + 1) < flat(2 * best + 1))) best = i
      i += 1
    }
    val out = new Array[Double](flat.length)
    i = 0
    while (i < n) {
      out(2 * i) = flat(2 * ((i + best) % n))
      out(2 * i + 1) = flat(2 * ((i + best) % n) + 1)
      i += 1
    }
    out
  }

  private def centroidOf(f: Array[Double]): (Double, Double) = {
    val n = f.length / 2
    var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < n) { sx += f(2 * i); sy += f(2 * i + 1); i += 1 }
    (sx / n, sy / n)
  }

  private def reversePairs(ring: Array[Double]): Array[Double] = {
    val m = ring.length / 2
    val out = new Array[Double](ring.length)
    var i = 0
    while (i < m) {
      out(2 * i) = ring(2 * (m - 1 - i))
      out(2 * i + 1) = ring(2 * (m - 1 - i) + 1)
      i += 1
    }
    out
  }

  /** Even-odd membership w.r.t. a polygon given as ALL its rings
    * (orientation-independent: each ring crossing flips parity). */
  private[graft] def insideMulti(px: Double, py: Double,
      rings: Seq[Array[Double]]): Boolean =
    rings.foldLeft(false)((in, r) => in ^ inside(px, py, r))

  /** Every boolean op's entry: each ring has >= 3 vertices, and ring
    * orientations follow nesting depth — even depth (exteriors) CCW,
    * odd depth (holes) CW, the interior-left convention the traversal
    * needs. A zero-area ring keeps its order. Input order is
    * preserved. */
  private def orientPoly(rings: Seq[Array[Double]]): Seq[Array[Double]] = {
    rings.foreach(requireRing)
    val depth = rings.indices.map(i => rings.indices.count(j =>
      j != i && inside(rings(i)(0), rings(i)(1), rings(j))))
    rings.indices.map { i =>
      val r = rings(i)
      val a = signedArea(r)
      if (a != 0 && (a > 0) != (depth(i) % 2 == 0)) reversePairs(r) else r
    }
  }

  /** Nest-assemble result components into the structural form: each
    * even-depth component is an exterior (CCW) followed by its
    * immediate odd-depth holes (CW), blocks ordered lex by exterior;
    * islands (depth 2) start their own block, recursively. Components
    * of a valid boolean result never cross, so a single-vertex
    * containment probe decides nesting. */
  private def assemble(comps0: Seq[Array[Double]]): Seq[Array[Double]] = {
    // IndexedSeq: the depth/hole scans below index comps inside O(n²)
    // loops — a List argument would turn them cubic
    val comps = comps0.iterator
      .map(r => canonical(GeomAlgebra.toCcw(r))).toIndexedSeq
    val depth = comps.indices.map(i => comps.indices.count(j =>
      j != i && inside(comps(i)(0), comps(i)(1), comps(j))))
    val out = ArrayBuffer.empty[Array[Double]]
    def emit(d: Int, within: Int => Boolean): Unit = {
      val exts = comps.indices
        .filter(i => depth(i) == d && within(i))
        .sortBy(i => (comps(i)(0), comps(i)(1)))
      exts.foreach { e =>
        out += comps(e)
        val holes = comps.indices.filter(h => depth(h) == d + 1 &&
          inside(comps(h)(0), comps(h)(1), comps(e)))
        holes.map(comps).sortBy(r => (r(0), r(1)))
          .foreach(h => out += reversePairs(h))
        // islands nested inside this exterior's holes
        emit(d + 2, i => inside(comps(i)(0), comps(i)(1), comps(e)))
      }
    }
    emit(0, _ => true)
    out.toSeq
  }

  /** The Greiner–Hormann core over polygons with holes (Foster &
    * Hormann's multi-ring formulation): subject and clip are
    * interior-left oriented ring lists ([[orientPoly]]). Even-odd
    * membership in the whole other polygon seeds the entry/exit flags,
    * rings that never cross the other polygon are kept or dropped by
    * the operation's truth table, and [[assemble]] nests the result
    * components. `invS`/`invC` select the operation (GH entry-flag
    * inversion): (false,false)=intersection, (true,true)=union,
    * (true,false)=subject minus clip. */
  private def clipMulti(subj: Seq[Array[Double]], clip: Seq[Array[Double]],
      invS: Boolean, invC: Boolean): Seq[Array[Double]] = {
    // degeneracy sweep: any vertex of either polygon on any ring of the
    // other (vertex-on-edge / coincident vertices), recoverable by the
    // perturbation wrapper
    for (s <- subj; c <- clip) {
      var i = 0
      while (i < s.length) {
        if (onBoundary(s(i), s(i + 1), c))
          contactDegenerate("subject vertex on clip boundary")
        i += 2
      }
      i = 0
      while (i < c.length) {
        if (onBoundary(c(i), c(i + 1), s))
          contactDegenerate("clip vertex on subject boundary")
        i += 2
      }
    }

    // pure-geometry intersection pass over ORIGINAL edges of every
    // (subject ring, clip ring) pair — insertion happens after, sorted
    // by alpha, so multi-pair subdivision stays consistent. alpha==0/1
    // cannot happen after the vertex sweep above; collinear overlap
    // still can
    final case class Hit(si: Int, se: Int, tS: Double,
        ci: Int, ce: Int, tC: Double, x: Double, y: Double)
    val hits = ArrayBuffer.empty[Hit]
    for (si <- subj.indices; ci <- clip.indices) {
      val a = subj(si); val b = clip(ci)
      val na = a.length / 2; val nb = b.length / 2
      var i = 0
      while (i < na) {
        val i2 = (i + 1) % na
        val d1x = a(2 * i2) - a(2 * i); val d1y = a(2 * i2 + 1) - a(2 * i + 1)
        var j = 0
        while (j < nb) {
          val j2 = (j + 1) % nb
          val d2x = b(2 * j2) - b(2 * j); val d2y = b(2 * j2 + 1) - b(2 * j + 1)
          val denom = d1x * d2y - d1y * d2x
          if (denom == 0) {
            // parallel: collinear overlap is degenerate, disjoint is fine
            val c1 = d1x * (b(2 * j + 1) - a(2 * i + 1)) -
              d1y * (b(2 * j) - a(2 * i))
            if (c1 == 0) {
              val (alo, ahi, blo, bhi) =
                if (math.abs(d1x) >= math.abs(d1y))
                  (math.min(a(2 * i), a(2 * i2)), math.max(a(2 * i), a(2 * i2)),
                    math.min(b(2 * j), b(2 * j2)), math.max(b(2 * j), b(2 * j2)))
                else
                  (math.min(a(2 * i + 1), a(2 * i2 + 1)),
                    math.max(a(2 * i + 1), a(2 * i2 + 1)),
                    math.min(b(2 * j + 1), b(2 * j2 + 1)),
                    math.max(b(2 * j + 1), b(2 * j2 + 1)))
              if (math.min(ahi, bhi) - math.max(alo, blo) > 0)
                contactDegenerate("collinear overlapping edges")
            }
          } else {
            val tS = ((b(2 * j) - a(2 * i)) * d2y -
              (b(2 * j + 1) - a(2 * i + 1)) * d2x) / denom
            val tC = ((b(2 * j) - a(2 * i)) * d1y -
              (b(2 * j + 1) - a(2 * i + 1)) * d1x) / denom
            if (tS > 0 && tS < 1 && tC > 0 && tC < 1)
              hits += Hit(si, i, tS, ci, j, tC,
                a(2 * i) + tS * d1x, a(2 * i + 1) + tS * d1y)
          }
          j += 1
        }
        i += 1
      }
    }

    val crossedS = hits.map(_.si).toSet
    val crossedC = hits.map(_.ci).toSet

    // rings that never cross the other polygon: keep by the op table,
    // sampled at a vertex (not on the other's boundary — swept above)
    def keepSubj(r: Array[Double]): Boolean = {
      val in = insideMulti(r(0), r(1), clip)
      (invS, invC) match {
        case (false, false) => in // intersection
        case (true, true) => !in // union
        case (true, false) => !in // difference
        case other => throw new IllegalStateException(s"bad op $other")
      }
    }
    def keepClip(r: Array[Double]): Boolean = {
      val in = insideMulti(r(0), r(1), subj)
      (invS, invC) match {
        case (false, false) => in
        case (true, true) => !in
        case (true, false) => in // removed area's boundary inside S
        case other => throw new IllegalStateException(s"bad op $other")
      }
    }
    val kept = ArrayBuffer.empty[Array[Double]]
    subj.indices.foreach(i =>
      if (!crossedS(i) && keepSubj(subj(i))) kept += subj(i))
    clip.indices.foreach(i =>
      if (!crossedC(i) && keepClip(clip(i))) kept += clip(i))

    if (hits.isEmpty) return assemble(kept.toSeq)

    // node rings + intersection insertion (alpha-sorted per original edge)
    def buildNodes(flat: Array[Double]): IndexedSeq[Node] = {
      val n = flat.length / 2
      val nodes = (0 until n).map(i => new Node(flat(2 * i), flat(2 * i + 1)))
      nodes.indices.foreach { i =>
        nodes(i).next = nodes((i + 1) % n)
        nodes(i).prev = nodes((i + n - 1) % n)
      }
      nodes
    }
    val sNodes = subj.map(buildNodes)
    val cNodes = clip.map(buildNodes)
    def insertAfter(edgeStart: Node, node: Node, alpha: Double): Unit = {
      var at = edgeStart
      while (at.next.intersect && at.next.alpha < alpha) at = at.next
      node.alpha = alpha
      node.next = at.next
      node.prev = at
      at.next.prev = node
      at.next = node
    }
    hits.foreach { h =>
      val ns = new Node(h.x, h.y); ns.intersect = true
      val nc = new Node(h.x, h.y); nc.intersect = true
      ns.neighbor = nc; nc.neighbor = ns
      insertAfter(sNodes(h.si)(h.se), ns, h.tS)
      insertAfter(cNodes(h.ci)(h.ce), nc, h.tC)
    }

    // entry/exit flags per ring, seeded by even-odd membership in the
    // WHOLE other polygon, then alternating along the ring
    def markEntries(head: Node, other: Seq[Array[Double]],
        invert: Boolean): Unit = {
      var status = !insideMulti(head.x, head.y, other)
      if (invert) status = !status
      var c = head
      do {
        if (c.intersect) { c.entry = status; status = !status }
        c = c.next
      } while (c ne head)
    }
    sNodes.foreach(ns => markEntries(ns.head, clip, invS))
    cNodes.foreach(nc => markEntries(nc.head, subj, invC))

    // traversal across ALL subject rings
    val results = ArrayBuffer.empty[Array[Double]]
    def firstUnvisited(): Node = {
      sNodes.foreach { nodes =>
        val head = nodes.head
        var c = head
        do {
          if (c.intersect && !c.visited) return c
          c = c.next
        } while (c ne head)
      }
      null
    }
    var start = firstUnvisited()
    var guard = 0L
    // terminate-check bound scaled to the actual node count (subject +
    // clip vertices plus both inserted nodes per intersection): a
    // healthy traversal emits each node at most once per result
    // component, and the cap accumulates across ALL components of one
    // call, so a generous factor over the node count separates
    // legitimately large inputs from a genuinely stuck walk — a fixed
    // constant would spuriously trip on tens-of-thousands-vertex rings
    val maxSteps = 16L * (subj.map(_.length / 2).sum +
      clip.map(_.length / 2).sum + 2 * hits.length) + 4096L
    while (start != null) {
      val out = ArrayBuffer.empty[Double]
      var cur = start
      do {
        cur.visited = true; cur.neighbor.visited = true
        if (cur.entry) {
          do {
            cur = cur.next
            out += cur.x; out += cur.y
            guard += 1
            if (guard > maxSteps) degenerate("traversal did not terminate")
          } while (!cur.intersect)
        } else {
          do {
            cur = cur.prev
            out += cur.x; out += cur.y
            guard += 1
            if (guard > maxSteps) degenerate("traversal did not terminate")
          } while (!cur.intersect)
        }
        cur = cur.neighbor
      } while ((cur ne start) && (cur.neighbor ne start))
      // drop closing duplicate if present
      var flat = out.toArray
      val n = flat.length / 2
      if (n >= 2 && flat(0) == flat(2 * n - 2) && flat(1) == flat(2 * n - 1))
        flat = flat.dropRight(2)
      if (flat.length >= 6) results += flat
      start = firstUnvisited()
    }
    assemble(results.toSeq ++ kept)
  }

  /** Boundary-contact fallback (the standard perturbation resolution of
    * Greiner–Hormann degeneracies): translate ALL clip rings together
    * (the polygon moves rigidly, so its hole structure is preserved) by
    * a deterministic micro-offset along the inter-centroid axis of the
    * two exteriors — toward the subject for union (abutting parcels
    * must FUSE, not detach), away from it for intersection/difference
    * (a shared edge contributes no area; an inside-touching clip must
    * detach outward, not become a hole) — then re-clip. Areas move by
    * O(δ·perimeter) ≈ 1e-9·scale, invisible at the geometry gates'
    * rounding. */
  private def clipMultiRobust(subj: Seq[Array[Double]],
      clip: Seq[Array[Double]], invS: Boolean, invC: Boolean,
      toward: Boolean): Seq[Array[Double]] = {
    try clipMulti(subj, clip, invS, invC)
    catch { case _: ContactDegeneracy =>
      val (sx, sy) = centroidOf(subj.head)
      val (cx, cy) = centroidOf(clip.head)
      var dx = sx - cx; var dy = sy - cy
      val len = math.hypot(dx, dy)
      if (len < 1e-300) { dx = 0.7985357; dy = 0.6019477 } // fixed oblique
      else { dx /= len; dy /= len }
      // twist off any axis-aligned direction: an exactly-horizontal
      // shift would leave horizontal shared edges collinear forever
      dx += 0.1370778 * -dy; dy += 0.1370778 * dx
      val len2 = math.hypot(dx, dy)
      dx /= len2; dy /= len2
      if (!toward) { dx = -dx; dy = -dy }
      var scale = 1.0
      (subj ++ clip).foreach { r =>
        var i = 0
        while (i < r.length) { scale = math.max(scale, math.abs(r(i))); i += 1 }
      }
      var delta = scale * 1e-9
      var attempt = 0
      var out: Seq[Array[Double]] = null
      while (out == null) {
        val shifted = clip.map { r =>
          val s = new Array[Double](r.length)
          var i = 0
          while (i < r.length) {
            s(i) = r(i) + dx * delta
            s(i + 1) = r(i + 1) + dy * delta
            i += 2
          }
          s
        }
        try out = clipMulti(subj, shifted, invS, invC)
        catch {
          case _: ContactDegeneracy if attempt < 3 =>
            attempt += 1; delta *= 1000
        }
      }
      out
    }
  }

  private def polyOp(a: Seq[Array[Double]], b: Seq[Array[Double]],
      invS: Boolean, invC: Boolean, toward: Boolean): Seq[Array[Double]] =
    clipMultiRobust(orientPoly(a), orientPoly(b), invS, invC, toward)

  // ---- polygon-level ops: structural [exterior, holes...] results ----
  // A ∪ B encloses a pocket as a CW hole (a cap bridging a U-shape's
  // arms — the donut); A − B punches one (clip strictly inside the
  // subject); A △ B is (A − B) then (B − A), blocks with disjoint
  // interiors. Reference GeoFunctions.java:581,921,1007 (the Esri
  // delegation yields interior rings in these configurations).
  private[graft] def holedUnionPoly(a: Seq[Array[Double]],
      b: Seq[Array[Double]]): Seq[Array[Double]] =
    polyOp(a, b, invS = true, invC = true, toward = true)

  private[graft] def holedDifferencePoly(a: Seq[Array[Double]],
      b: Seq[Array[Double]]): Seq[Array[Double]] =
    polyOp(a, b, invS = true, invC = false, toward = false)

  private[graft] def holedSymDifferencePoly(a: Seq[Array[Double]],
      b: Seq[Array[Double]]): Seq[Array[Double]] =
    holedDifferencePoly(a, b) ++ holedDifferencePoly(b, a)

  private[graft] def intersectionPoly(a: Seq[Array[Double]],
      b: Seq[Array[Double]]): Seq[Array[Double]] =
    polyOp(a, b, invS = false, invC = false, toward = false)

  private[graft] def holedUnion(a: Array[Double],
      b: Array[Double]): Seq[Array[Double]] = holedUnionPoly(Seq(a), Seq(b))
  private[graft] def holedDifference(a: Array[Double],
      b: Array[Double]): Seq[Array[Double]] = holedDifferencePoly(Seq(a), Seq(b))
  private[graft] def holedSymDifference(a: Array[Double],
      b: Array[Double]): Seq[Array[Double]] =
    holedSymDifferencePoly(Seq(a), Seq(b))

  // ---- ring-typed ops: hole-free components ----
  // A result that needs an interior ring (CW) fails loudly: `addRing`
  // would otherwise keep a donut pair as two separate components.
  private def holeFree(rings: Seq[Array[Double]]): Seq[Array[Double]] =
    if (rings.exists(signedArea(_) < 0))
      degenerate("result needs a hole (nested boundary component)")
    else rings

  private[graft] def union(a: Array[Double], b: Array[Double]): Seq[Array[Double]] =
    holeFree(holedUnion(a, b))
  private[graft] def intersection(a: Array[Double], b: Array[Double]): Seq[Array[Double]] =
    holeFree(intersectionPoly(Seq(a), Seq(b)))
  private[graft] def difference(a: Array[Double], b: Array[Double]): Seq[Array[Double]] =
    holeFree(holedDifference(a, b))
  private[graft] def symDifference(a: Array[Double], b: Array[Double]): Seq[Array[Double]] =
    (difference(a, b) ++ difference(b, a)).sortBy(r => (r(0), r(1)))

  /** Incremental union fold: merge one ring into an accumulator of
    * pairwise-DISJOINT components (fuse with every overlapping
    * component until a fixed point). The accumulator is bounded by the
    * OUTPUT complexity, which is what makes geometry_union_agg an
    * honest distributed aggregation. */
  private[graft] def addRing(acc: ArrayBuffer[Array[Double]],
      r0: Array[Double]): Unit = {
    var pending = canonical(GeomAlgebra.toCcw(r0))
    var merged = true
    while (merged) {
      merged = false
      var i = 0
      while (i < acc.length && !merged) {
        // subsumption fast paths keep idempotent folds legal: duplicate
        // or contained rings (boundary contact included) add nothing,
        // and a ring swallowing a component replaces it — the general
        // clipper would reject their boundary coincidences
        if (covers(acc(i), pending)) return
        if (covers(pending, acc(i))) {
          acc.remove(i)
          merged = true
        } else {
          val u = union(acc(i), pending)
          if (u.length == 1) { // they overlapped: fuse and retry
            acc.remove(i)
            pending = canonical(u.head)
            merged = true
          }
        }
        i += 1
      }
    }
    acc += pending
  }

  /** geometry_union(array<ring>) → disjoint components. */
  private[graft] def unionAll(rings: Seq[Array[Double]]): Seq[Array[Double]] = {
    val acc = ArrayBuffer.empty[Array[Double]]
    rings.filter(_.length >= 6).foreach(addRing(acc, _))
    acc.toSeq.sortBy(r => (r(0), r(1)))
  }

  /** DE-9IM matrix for a general-position polygon pair: the matrix is
    * fully determined by the coarse relationship. Boundary contact
    * (touches/edge-sharing) is degenerate here, like the clipper. Row
    * order II,IB,IE,BI,BB,BE,EI,EB,EE. */
  private[graft] def de9im(a0: Array[Double], b0: Array[Double]): String = {
    requireRing(a0); requireRing(b0)
    val a = canonical(GeomAlgebra.toCcw(a0))
    val b = canonical(GeomAlgebra.toCcw(b0))
    if (java.util.Arrays.equals(a, b)) return "2FFF1FFF2"
    if (hasProperCrossing(a, b)) return "212101212"
    var i = 0
    while (i < a.length) {
      if (onBoundary(a(i), a(i + 1), b))
        degenerate("boundary contact in st_relate")
      i += 2
    }
    i = 0
    while (i < b.length) {
      if (onBoundary(b(i), b(i + 1), a))
        degenerate("boundary contact in st_relate")
      i += 2
    }
    if (inside(b(0), b(1), a)) "212FF1FF2" // contains
    else if (inside(a(0), a(1), b)) "2FF1FF212" // within
    else "FF2FF1212" // disjoint
  }

  /** DE-9IM pattern match: T = non-F, F/0/1/2 exact, * = any. */
  private[graft] def relateMatches(matrix: String, pattern: String): Boolean = {
    require(pattern.length == 9,
      s"st_relate: pattern must be 9 characters, got '$pattern'")
    matrix.zip(pattern.toUpperCase).forall {
      case (_, '*') => true
      case (m, 'T') => m != 'F'
      case (m, p) => m == p
    }
  }

  /** Canonicalize each component (rotate to lex-min start) and sort
    * components — every code path funnels here, so containment/disjoint
    * shortcuts emit the same canonical form as traversal results. */
  private def toMulti(rings: Seq[Array[Double]]): GenericArrayData = {
    val canon = rings.map(canonical).sortBy(r => (r(0), r(1)))
    new GenericArrayData(canon.map(GeomAlgebra.toRing).toArray[Any])
  }

  private[functions] val MultiType =
    ArrayType(GeomAlgebra.RingType, containsNull = false)

  private[functions] def flatOf(v: Any, xi: Int): Array[Double] =
    LineOps.coords(v, xi)

  /** The boolean expressions accept a RING (array<point>) or a
    * POLYGON WITH HOLES (array<ring>, the structural [exterior,
    * holes...] form their own results use) — so results compose back
    * as inputs. */
  private[functions] def checkRingOrPoly(prettyName: String,
      dt: DataType): TypeCheckResult =
    if (LineOps.isPointArray(dt)) TypeCheckResult.TypeCheckSuccess
    else dt match {
      case ArrayType(el, _) if LineOps.isPointArray(el) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a ring (array<struct<x,y>>) or a polygon " +
          s"with holes (array<array<struct<x,y>>>), got ${dt.catalogString}")
    }

  /** Parse either accepted input shape to the polygon's ring list. */
  private[functions] def polyOf(v: Any, dt: DataType): Seq[Array[Double]] =
    dt match {
      case ArrayType(el, _) if LineOps.isPointArray(el) =>
        val arr = v.asInstanceOf[ArrayData]
        val xi = LineOps.xIdx(el)
        (0 until arr.numElements()).map(i => flatOf(arr.getArray(i), xi))
      case _ => Seq(flatOf(v, LineOps.xIdx(dt)))
    }

  private[functions] def multiOf(rings: Seq[Array[Double]]): GenericArrayData =
    toMulti(rings)
}

/** Every polygon boolean op's SQL spelling → polygon (with holes)
  * result, keyed by its SQL name (the `prettyName`). Inputs are rings
  * or polygons with holes; the `st_*` and `st_polygon_*` spellings of
  * one op compute the same structural result (interior rings CW). See
  * [[GeomBoolean]] for the contract. */
case class PolyBool(left: Expression, right: Expression, name: String)
    extends BinaryExpression with CodegenFallback {

  require(PolyBool.ops.contains(name), s"unknown polygon op $name")

  override def prettyName: String = name
  override def dataType: DataType = GeomBoolean.MultiType

  override def checkInputDataTypes(): TypeCheckResult =
    GeomBoolean.checkRingOrPoly(prettyName, left.dataType) match {
      case TypeCheckResult.TypeCheckSuccess =>
        GeomBoolean.checkRingOrPoly(prettyName, right.dataType)
      case f => f
    }

  @transient private lazy val op = PolyBool.ops(name)

  override def nullSafeEval(a: Any, b: Any): Any =
    GeomBoolean.multiOf(op(GeomBoolean.polyOf(a, left.dataType),
      GeomBoolean.polyOf(b, right.dataType)))

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PolyBool {
  private type Poly = Seq[Array[Double]]

  /** SQL name → polygon-level op, in registration order. */
  private[functions] val ops: ListMap[String, (Poly, Poly) => Poly] =
    ListMap(
      "st_union" -> GeomBoolean.holedUnionPoly,
      "st_difference" -> GeomBoolean.holedDifferencePoly,
      "st_symdifference" -> GeomBoolean.holedSymDifferencePoly,
      "st_polygon_intersection" -> GeomBoolean.intersectionPoly,
      "st_polygon_difference" -> GeomBoolean.holedDifferencePoly,
      "st_polygon_union" -> GeomBoolean.holedUnionPoly,
      "st_polygon_symdifference" -> GeomBoolean.holedSymDifferencePoly)
}

/** geometry_union_agg(ring) (GeoFunctions.java geometry_union_agg):
  * distributed union — state is the running DISJOINT multipolygon, so
  * partial aggregation folds map-side and merge unions component lists;
  * state size tracks the output's complexity, not the input count. */
case class GeometryUnionAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Array[Double]]]
    with RingInput {

  override def prettyName: String = "geometry_union_agg"
  override def dataType: DataType = GeomBoolean.MultiType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, child.dataType)

  @transient private lazy val xi = LineOps.xIdx(child.dataType)

  override def createAggregationBuffer(): ArrayBuffer[Array[Double]] =
    ArrayBuffer.empty[Array[Double]]

  override def update(b: ArrayBuffer[Array[Double]], input: InternalRow): ArrayBuffer[Array[Double]] = {
    val v = child.eval(input)
    if (v != null) {
      val flat = GeomBoolean.flatOf(v, xi)
      if (flat.length >= 6) GeomBoolean.addRing(b, flat)
    }
    b
  }

  override def merge(b: ArrayBuffer[Array[Double]], o: ArrayBuffer[Array[Double]]): ArrayBuffer[Array[Double]] = {
    o.foreach(GeomBoolean.addRing(b, _))
    b
  }

  override def eval(b: ArrayBuffer[Array[Double]]): Any =
    if (b.isEmpty) null
    else GeomBoolean.multiOf(b.toSeq.sortBy(r => (r(0), r(1))))

  override def serialize(b: ArrayBuffer[Array[Double]]): Array[Byte] = {
    val total = 4 + b.map(4 + 8 * _.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
    buf.putInt(b.length)
    b.foreach { r => buf.putInt(r.length); r.foreach(buf.putDouble) }
    buf.array()
  }
  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Array[Double]] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new ArrayBuffer[Array[Double]](n)
    var i = 0
    while (i < n) {
      val len = buf.getInt
      val r = new Array[Double](len)
      var j = 0
      while (j < len) { r(j) = buf.getDouble; j += 1 }
      b += r
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): GeometryUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GeometryUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** ST_Relate(ring, ring, pattern) (GeoFunctions.java:1106): DE-9IM
  * pattern test for general-position polygon pairs (see
  * [[GeomBoolean.de9im]]; boundary contact fails loudly). */
case class StRelate(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback with RingInput {

  override def prettyName: String = "st_relate"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    checkRing(prettyName, first.dataType) match {
      case TypeCheckResult.TypeCheckSuccess =>
        checkRing(prettyName, second.dataType) match {
          case TypeCheckResult.TypeCheckSuccess =>
            if (third.dataType == StringType) TypeCheckResult.TypeCheckSuccess
            else TypeCheckResult.TypeCheckFailure(
              s"$prettyName pattern must be a string")
          case f => f
        }
      case f => f
    }

  @transient private lazy val xiL = LineOps.xIdx(first.dataType)
  @transient private lazy val xiR = LineOps.xIdx(second.dataType)

  override def nullSafeEval(a: Any, b: Any, p: Any): Any =
    GeomBoolean.relateMatches(
      GeomBoolean.de9im(GeomBoolean.flatOf(a, xiL),
        GeomBoolean.flatOf(b, xiR)),
      p.toString)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** geometry_union(array<ring>) → multipolygon of disjoint components. */
case class GeometryUnionAll(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def prettyName: String = "geometry_union"
  override def dataType: DataType = GeomBoolean.MultiType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(el, _) if LineOps.isPointArray(el) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<array<struct<x,y>>>, got ${dt.catalogString}")
  }

  @transient private lazy val xi = LineOps.xIdx(
    child.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val rings = (0 until arr.numElements()).map(i =>
      GeomBoolean.flatOf(arr.getArray(i), xi))
    GeomBoolean.multiOf(GeomBoolean.unionAll(rings))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
