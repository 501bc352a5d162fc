package graft

import graft.functions.{GeomAlgebra, GeomBoolean, Registry}

/** Behavioral tests for the Greiner–Hormann polygon boolean algebra on
  * hand-computable fixtures (corner-overlapping squares: intersections
  * at (10,5) and (5,10), overlap area 25). */
class GeomBooleanSuite extends GraftSuite {

  import spark.implicits._

  private val S = Array(0.0, 0, 10, 0, 10, 10, 0, 10) // CCW square
  private val C = Array(5.0, 5, 15, 5, 15, 15, 5, 15) // CCW square

  private def vset(r: Array[Double]): Seq[(Double, Double)] =
    r.grouped(2).map(a => (a(0), a(1))).toSeq

  test("union of corner-overlapping squares is the exact octagon") {
    val u = GeomBoolean.union(S, C)
    assert(u.length == 1)
    assert(math.abs(GeomBoolean.signedArea(u.head) - 175.0) < 1e-9)
    assert(vset(u.head).toSet == Set((0.0, 0.0), (10.0, 0.0), (10.0, 5.0),
      (15.0, 5.0), (15.0, 15.0), (5.0, 15.0), (5.0, 10.0), (0.0, 10.0)))
  }

  test("difference is the L-shape; reversed difference mirrors") {
    val d = GeomBoolean.difference(S, C)
    assert(d.length == 1)
    assert(math.abs(GeomBoolean.signedArea(d.head) - 75.0) < 1e-9)
    assert(vset(d.head).toSet == Set((0.0, 0.0), (10.0, 0.0), (10.0, 5.0),
      (5.0, 5.0), (5.0, 10.0), (0.0, 10.0)))
    val d2 = GeomBoolean.difference(C, S)
    assert(d2.length == 1)
    assert(math.abs(GeomBoolean.signedArea(d2.head) - 75.0) < 1e-9)
  }

  test("intersection agrees with the clip; symdifference = both Ls") {
    val ix = GeomBoolean.intersection(S, C)
    assert(ix.length == 1)
    assert(math.abs(GeomBoolean.signedArea(ix.head) - 25.0) < 1e-9)
    val sd = GeomBoolean.symDifference(S, C)
    assert(sd.length == 2)
    assert(math.abs(sd.map(GeomBoolean.signedArea).sum - 150.0) < 1e-9)
  }

  test("4-crossing bar: union is the cross, difference splits in two") {
    // horizontal bar crosses the square's left and right edges — 4
    // proper intersections, so difference produces TWO components
    val bar = Array(-2.0, 4, 12, 4, 12, 6, -2, 6)
    val u = GeomBoolean.union(S, bar)
    assert(u.length == 1)
    assert(math.abs(GeomBoolean.signedArea(u.head) - 108.0) < 1e-9)
    val ix = GeomBoolean.intersection(S, bar)
    assert(ix.length == 1)
    assert(math.abs(GeomBoolean.signedArea(ix.head) - 20.0) < 1e-9)
    val d = GeomBoolean.difference(S, bar)
    assert(d.length == 2)
    assert(d.map(GeomBoolean.signedArea).forall(a => math.abs(a - 40.0) < 1e-9))
    val d2 = GeomBoolean.difference(bar, S)
    assert(d2.length == 2)
    assert(math.abs(d2.map(GeomBoolean.signedArea).sum - 8.0) < 1e-9)
    val sd = GeomBoolean.symDifference(S, bar)
    assert(sd.length == 4)
    assert(math.abs(sd.map(GeomBoolean.signedArea).sum - 88.0) < 1e-9)
  }

  test("nonconvex subject: L-shape vs square across the notch") {
    // L = 10-square minus its [4,10]x[4,10] corner (area 64); the small
    // square straddles the notch corner (2 proper crossings)
    val L = Array(0.0, 0, 10, 0, 10, 4, 4, 4, 4, 10, 0, 10)
    val q = Array(3.0, 3, 6, 3, 6, 6, 3, 6)
    val u = GeomBoolean.union(L, q)
    assert(u.length == 1)
    assert(math.abs(GeomBoolean.signedArea(u.head) - 68.0) < 1e-9)
    val ix = GeomBoolean.intersection(L, q)
    assert(ix.length == 1)
    assert(math.abs(GeomBoolean.signedArea(ix.head) - 5.0) < 1e-9)
    val d1 = GeomBoolean.difference(L, q)
    assert(d1.length == 1)
    assert(math.abs(GeomBoolean.signedArea(d1.head) - 59.0) < 1e-9)
    val d2 = GeomBoolean.difference(q, L)
    assert(d2.length == 1)
    assert(math.abs(GeomBoolean.signedArea(d2.head) - 4.0) < 1e-9)
  }

  test("no-crossing cases: disjoint, contained, hole rejection") {
    val far = Array(100.0, 100, 110, 100, 110, 110, 100, 110)
    assert(GeomBoolean.union(S, far).length == 2)
    assert(GeomBoolean.intersection(S, far).isEmpty)
    assert(GeomBoolean.difference(S, far).length == 1)
    val inner = Array(3.0, 3, 6, 3, 6, 6, 3, 6)
    assert(GeomBoolean.union(S, inner).map(GeomBoolean.signedArea).sum == 100.0)
    assert(GeomBoolean.intersection(S, inner).head.sameElements(
      GeomBoolean.intersection(inner, S).head))
    // the LOW-LEVEL ring-typed difference still rejects holes (its
    // contract is hole-free components)...
    val e = intercept[IllegalArgumentException](GeomBoolean.difference(S, inner))
    assert(e.getMessage.contains("hole"))
    // ...but the SQL surface (PolyBool r8c) routes through the holed
    // implementation, so ST_Difference COMPUTES the contained-clip case
    // like the reference's Esri delegation: [exterior, CW hole]
    Registry.install(spark)
    def sq(x0: Double, y0: Double, s: Double) =
      s"array(st_point(${x0}D, ${y0}D), st_point(${x0 + s}D, ${y0}D), " +
        s"st_point(${x0 + s}D, ${y0 + s}D), st_point(${x0}D, ${y0 + s}D))"
    val row = spark.sql(
      s"""SELECT size(st_difference(${sq(0, 0, 10)}, ${sq(3, 3, 3)})) AS n,
         |  st_polygon_area(st_difference(${sq(0, 0, 10)}, ${sq(3, 3, 3)})) AS a
         |""".stripMargin).head()
    assert(row.getInt(0) == 2 && row.getDouble(1) == 91.0)
  }

  test("CW input is normalized") {
    val cw = Array(0.0, 0, 0, 10, 10, 10, 10, 0) // clockwise square
    val u = GeomBoolean.union(cw, C)
    assert(math.abs(GeomBoolean.signedArea(u.head) - 175.0) < 1e-9)
  }

  test("vertex-on-edge contact resolves via the perturbation retry") {
    // r8: boundary contact computes instead of throwing. Triangle with
    // one vertex exactly on S's right edge, body outside: union fuses
    // (area 100 + 8), intersection is empty-or-sliver, difference
    // leaves S.
    val touching = Array(10.0, 3, 14, 2, 14, 6)
    val u = GeomBoolean.union(S, touching)
    assert(math.abs(u.map(GeomBoolean.signedArea).sum - 108.0) < 1e-4)
    val i = GeomBoolean.intersection(S, touching)
    assert(i.map(GeomBoolean.signedArea).sum < 1e-4)
    val d = GeomBoolean.difference(S, touching)
    assert(math.abs(d.map(GeomBoolean.signedArea).sum - 100.0) < 1e-4)
  }

  test("abutting parcels (shared full edge) fuse under union") {
    // the GIS case the loud path used to reject: [0,10]² and [10,20]×[0,10]
    val right = Array(10.0, 0, 20, 0, 20, 10, 10, 10)
    val u = GeomBoolean.union(S, right)
    assert(u.length == 1, s"expected one fused parcel, got ${u.length}")
    assert(math.abs(GeomBoolean.signedArea(u.head) - 200.0) < 1e-4)
    // a shared edge contributes no intersection area
    assert(GeomBoolean.intersection(S, right)
      .map(GeomBoolean.signedArea).sum < 1e-4)
    // difference leaves the subject intact
    assert(math.abs(GeomBoolean.difference(S, right)
      .map(GeomBoolean.signedArea).sum - 100.0) < 1e-4)
    // symdifference = both parcels
    assert(math.abs(GeomBoolean.symDifference(S, right)
      .map(GeomBoolean.signedArea).sum - 200.0) < 1e-4)
  }

  test("collinear overlapping edges resolve; inside-touching clip detaches") {
    // horizontally-overlapping rectangles whose top/bottom edges are
    // collinear on the overlap: union 3, intersection 1, difference 1
    val r1 = Array(0.0, 0, 2, 0, 2, 1, 0, 1)
    val r2 = Array(1.0, 0, 3, 0, 3, 1, 1, 1)
    assert(math.abs(GeomBoolean.union(r1, r2)
      .map(GeomBoolean.signedArea).sum - 3.0) < 1e-4)
    assert(math.abs(GeomBoolean.intersection(r1, r2)
      .map(GeomBoolean.signedArea).sum - 1.0) < 1e-4)
    assert(math.abs(GeomBoolean.difference(r1, r2)
      .map(GeomBoolean.signedArea).sum - 1.0) < 1e-4)
    // clip inside the subject but TOUCHING its edge: difference notches
    // it out instead of throwing the hole error (the notch breaches the
    // boundary) — [4,6]×[0,2] inside S touching the bottom edge
    val notch = Array(4.0, 0, 6, 0, 6, 2, 4, 2)
    val d = GeomBoolean.difference(S, notch)
    assert(math.abs(d.map(GeomBoolean.signedArea).sum - 96.0) < 1e-3)
    // strictly-interior clip still fails loudly (needs a real hole)
    val inner = Array(3.0, 3, 6, 3, 6, 6, 3, 6)
    val e = intercept[IllegalArgumentException](GeomBoolean.difference(S, inner))
    assert(e.getMessage.contains("hole"))
  }

  test("geometry_union folds overlapping rings into components") {
    // two overlapping squares + one far square → 2 components
    val all = GeomBoolean.unionAll(Seq(S, C,
      Array(100.0, 100, 110, 100, 110, 110, 100, 110)))
    assert(all.length == 2)
    assert(math.abs(all.map(GeomBoolean.signedArea).sum - 275.0) < 1e-9)
  }

  test("randomized cross-check: boolean-op areas agree with grid sampling") {
    // deterministic pseudo-random convex polygon pairs; each op's exact
    // area is checked against a 300x300 containment grid (±2% of the
    // frame). Degenerate configurations (possible under random integer
    // coords) are skipped — the loud-failure contract, not a bug.
    val rnd = new scala.util.Random(42)
    def randPoly(cx: Double, cy: Double): Array[Double] = {
      val pts = Array.fill(8)(
        (cx + rnd.nextInt(41) - 20 + 0.5, cy + rnd.nextInt(41) - 20 + 0.25))
      GeomAlgebra.hull(pts.flatMap { case (x, y) => Seq(x, y) })
    }
    def gridArea(in: (Double, Double) => Boolean): Double = {
      val n = 300
      var cnt = 0
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          // frame [-30, 80)²; sample cell centers
          val x = -30.0 + 110.0 * (i + 0.5) / n
          val y = -30.0 + 110.0 * (j + 0.5) / n
          if (in(x, y)) cnt += 1
          j += 1
        }
        i += 1
      }
      cnt.toDouble / (n * n) * 110.0 * 110.0
    }
    def in(p: Array[Double])(x: Double, y: Double): Boolean =
      GeomBoolean.inside(x, y, p)
    var checked = 0
    var skipped = 0
    (1 to 12).foreach { _ =>
      val a = randPoly(20, 20)
      val b = randPoly(20 + rnd.nextInt(25), 20 + rnd.nextInt(25))
      if (a.length >= 6 && b.length >= 6) {
        try {
          val tol = 0.02 * 110 * 110 // grid resolution bound
          val u = GeomBoolean.union(a, b).map(GeomBoolean.signedArea).sum
          assert(math.abs(u - gridArea((x, y) =>
            in(a)(x, y) || in(b)(x, y))) < tol, s"union area mismatch")
          val d = GeomBoolean.difference(a, b).map(GeomBoolean.signedArea).sum
          assert(math.abs(d - gridArea((x, y) =>
            in(a)(x, y) && !in(b)(x, y))) < tol, s"difference area mismatch")
          val ix = GeomBoolean.intersection(a, b)
            .map(GeomBoolean.signedArea).sum
          assert(math.abs(ix - gridArea((x, y) =>
            in(a)(x, y) && in(b)(x, y))) < tol, s"intersection area mismatch")
          checked += 1
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("degenerate") => skipped += 1
        }
      }
    }
    assert(checked >= 6, s"too few general-position samples ($checked)")
  }

  test("geometry_union_agg merges across partitions; duplicates idempotent") {
    Registry.install(spark)
    // 20 copies of two overlapping squares + a far one, spread across
    // partitions to force partial+merge paths
    val rows = (1 to 20).flatMap(_ => Seq((0.0, 0.0), (5.0, 5.0), (100.0, 100.0)))
    val df = rows.toDF("x0", "y0").repartition(7)
    df.createOrReplaceTempView("gua_t")
    val got = spark.sql(
      """SELECT size(m) AS n, round(aggregate(transform(m, r -> st_area(r)),
        |  0D, (acc, a) -> acc + a), 4) AS area
        |FROM (SELECT geometry_union_agg(array(
        |    st_point(x0, y0), st_point(x0 + 10, y0),
        |    st_point(x0 + 10, y0 + 10), st_point(x0, y0 + 10))) AS m
        |  FROM gua_t) t""".stripMargin).as[(Int, Double)].head()
    assert(got == ((2, 275.0)))
  }

  test("st_relate: DE-9IM matrices and pattern matching") {
    assert(GeomBoolean.de9im(S, C) == "212101212") // overlaps
    val far = Array(100.0, 100, 110, 100, 110, 110, 100, 110)
    assert(GeomBoolean.de9im(S, far) == "FF2FF1212") // disjoint
    val inner = Array(3.0, 3, 6, 3, 6, 6, 3, 6)
    assert(GeomBoolean.de9im(S, inner) == "212FF1FF2") // contains
    assert(GeomBoolean.de9im(inner, S) == "2FF1FF212") // within
    assert(GeomBoolean.de9im(S, S.clone()) == "2FFF1FFF2") // equals
    assert(GeomBoolean.relateMatches("212101212", "T*T***T**"))
    assert(GeomBoolean.relateMatches("2FF1FF212", "T*F**F***")) // within test
    assert(!GeomBoolean.relateMatches("FF2FF1212", "T********"))
    Registry.install(spark)
    def sq2(x0: Double, y0: Double) =
      s"array(st_point(${x0}D, ${y0}D), st_point(${x0 + 10}D, ${y0}D), " +
        s"st_point(${x0 + 10}D, ${y0 + 10}D), st_point(${x0}D, ${y0 + 10}D))"
    assert(spark.sql(
      s"SELECT st_relate(${sq2(0, 0)}, ${sq2(5, 5)}, '212101212') AS r")
      .as[Boolean].head())
  }

  test("SQL surface: st_union/st_difference/geometry_union resolve") {
    Registry.install(spark)
    def sq(x0: Double, y0: Double, s: Double) =
      s"array(st_point(${x0}D, ${y0}D), st_point(${x0 + s}D, ${y0}D), " +
        s"st_point(${x0 + s}D, ${y0 + s}D), st_point(${x0}D, ${y0 + s}D))"
    val row = spark.sql(
      s"""SELECT
         |  round(aggregate(transform(st_union(${sq(0, 0, 10)}, ${sq(5, 5, 10)}),
         |    r -> st_area(r)), 0D, (s, a) -> s + a), 4) AS u_area,
         |  size(st_symdifference(${sq(0, 0, 10)}, ${sq(5, 5, 10)})) AS sd_n,
         |  size(geometry_union(array(${sq(0, 0, 10)}, ${sq(5, 5, 10)},
         |    ${sq(100, 100, 5)}))) AS gu_n
         |""".stripMargin).head()
    assert(row.getDouble(0) == 175.0)
    assert(row.getInt(1) == 2)
    assert(row.getInt(2) == 2)
  }

  test("st_polygon_difference: contained clip punches a hole; splitting bar yields a multipolygon") {
    Registry.install(spark)
    def sq(x0: Double, y0: Double, s: Double) =
      s"array(st_point(${x0}D, ${y0}D), st_point(${x0 + s}D, ${y0}D), " +
        s"st_point(${x0 + s}D, ${y0 + s}D), st_point(${x0}D, ${y0 + s}D))"
    // 10x10 minus contained 2x2 → [exterior, hole], area 96; the hole
    // ring is CW (the structural convention's hole marker)
    val holed = spark.sql(
      s"""SELECT st_polygon_area(
         |    st_polygon_difference(${sq(0, 0, 10)}, ${sq(4, 4, 2)})) AS a,
         |  size(st_polygon_difference(${sq(0, 0, 10)}, ${sq(4, 4, 2)})) AS n
         |""".stripMargin).head()
    assert(holed.getDouble(0) == 96.0)
    assert(holed.getInt(1) == 2)
    // a clip bar through the middle splits the subject in two — a
    // 2-component multipolygon in the same array<ring> shape (r7; was
    // loud). Components are CCW exteriors (holes would be CW), each
    // the 4x10 side piece.
    val split = GeomBoolean.holedDifference(
      Array(0, 0, 10, 0, 10, 10, 0, 10),
      Array(4, -1, 6, -1, 6, 11, 4, 11))
    assert(split.size == 2)
    split.foreach { comp =>
      assert(GeomBoolean.signedArea(comp) > 0, "component must be CCW")
      assert(math.abs(GeomBoolean.signedArea(comp) - 40.0) < 1e-9)
    }
    // ... and the hole case's interior ring IS CW, disambiguating
    val hole = GeomBoolean.holedDifference(
      Array(0, 0, 10, 0, 10, 10, 0, 10),
      Array(4, 4, 6, 4, 6, 6, 4, 6))
    assert(hole.size == 2 && GeomBoolean.signedArea(hole(1)) < 0)
  }

  test("st_polygon_union: donut configuration encloses a CW hole") {
    Registry.install(spark)
    // U-shape (30x30 square minus an upward-opening 10x20 notch, area
    // 700) plus a cap bar bridging both arms (20x5, area 100, overlap
    // with the arms 2·(5x5)=50): union area 750, and the pocket
    // x∈(10,20), y∈(10,20) below the cap becomes an enclosed hole.
    val u = Array(0.0, 0, 30, 0, 30, 30, 20, 30, 20, 10, 10, 10, 10, 30, 0, 30)
    val cap = Array(5.0, 20, 25, 20, 25, 25, 5, 25)
    val res = GeomBoolean.holedUnion(u, cap)
    assert(res.size == 2, res.map(vset))
    assert(GeomBoolean.signedArea(res(0)) > 0) // exterior CCW
    assert(GeomBoolean.signedArea(res(1)) < 0) // hole CW
    assert(math.abs(res.map(GeomBoolean.signedArea).sum - 750.0) < 1e-9)
    assert(math.abs(GeomBoolean.signedArea(res(1)) + 100.0) < 1e-9)
    // no-crossing unions stay hole-free (containment / disjoint)
    assert(GeomBoolean.holedUnion(S,
      Array(2.0, 2, 4, 2, 4, 4, 2, 4)).size == 1)
    assert(GeomBoolean.holedUnion(S,
      Array(20.0, 20, 24, 20, 24, 24, 20, 24)).size == 2)
    // SQL surface: the same donut through st_polygon_area
    def ringSql(flat: Array[Double]) = flat.grouped(2)
      .map(p => s"st_point(${p(0)}D, ${p(1)}D)").mkString("array(", ", ", ")")
    val row = spark.sql(
      s"""SELECT st_polygon_area(
         |    st_polygon_union(${ringSql(u)}, ${ringSql(cap)})) AS a,
         |  size(st_polygon_union(${ringSql(u)}, ${ringSql(cap)})) AS n
         |""".stripMargin).head()
    assert(row.getDouble(0) == 750.0 && row.getInt(1) == 2)
  }

  test("ring-typed union rejects the donut; unionAll does not split it") {
    // the donut pair of "st_polygon_union: donut configuration": its
    // union needs an interior ring, which the ring-typed contract cannot
    // carry — it must throw, not come back as two rings that the union
    // fold would keep as two components
    val u = Array(0.0, 0, 30, 0, 30, 30, 20, 30, 20, 10, 10, 10, 10, 30, 0, 30)
    val cap = Array(5.0, 20, 25, 20, 25, 25, 5, 25)
    val e = intercept[IllegalArgumentException](GeomBoolean.union(u, cap))
    assert(e.getMessage.contains("hole"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      GeomBoolean.unionAll(Seq(u, cap)))
    assert(e2.getMessage.contains("hole"), e2.getMessage)
  }

  test("st_polygon_symdifference: contained clip and crossing squares") {
    Registry.install(spark)
    // B strictly inside A: A △ B = A with hole B — [A, reversed B]
    val a = Array(0.0, 0, 40, 0, 40, 40, 0, 40)
    val b = Array(10.0, 10, 30, 10, 30, 30, 10, 30)
    val sd = GeomBoolean.holedSymDifference(a, b)
    assert(sd.size == 2)
    assert(GeomBoolean.signedArea(sd(0)) > 0 && GeomBoolean.signedArea(sd(1)) < 0)
    assert(math.abs(sd.map(GeomBoolean.signedArea).sum - 1200.0) < 1e-9)
    // crossing squares: the ring-typed result (both L-shapes), unchanged
    val sd2 = GeomBoolean.holedSymDifference(S, C)
    assert(sd2.size == 2)
    assert(math.abs(sd2.map(GeomBoolean.signedArea).sum - 150.0) < 1e-9)
  }

  // ---- r10: holed INPUTS (Foster–Hormann multi-ring clipper) ----

  private def polyArea(rings: Seq[Array[Double]]): Double =
    rings.map(GeomBoolean.signedArea).sum

  test("holed input crossed by a bar: union/difference/intersection") {
    // A = 10x10 with hole [4,6]^2 (area 96); B = bar [3,7]x[-2,5]
    // (area 28). B crosses A's exterior (bottom edge) AND the hole ring
    // (at y=5) — the hole-crossing clip the r8c layer couldn't take.
    val aExt = Array(0.0, 0, 10, 0, 10, 10, 0, 10)
    val aHole = Array(4.0, 4, 6, 4, 6, 6, 4, 6) // any orientation
    val a = Seq(aExt, aHole)
    val b = Seq(Array(3.0, -2, 7, -2, 7, 5, 3, 5))
    // B inside-A region = [3,7]x[0,5] minus hole part [4,6]x[4,5] = 18
    val u = GeomBoolean.holedUnionPoly(a, b)
    assert(math.abs(polyArea(u) - (96.0 + 28 - 18)) < 1e-9, u.map(vset))
    // the hole shrinks to [4,6]x[5,6]: one CW ring of area 2 remains
    val holes = u.filter(GeomBoolean.signedArea(_) < 0)
    assert(holes.size == 1)
    assert(math.abs(GeomBoolean.signedArea(holes.head) + 2.0) < 1e-9)
    val d = GeomBoolean.holedDifferencePoly(a, b)
    assert(math.abs(polyArea(d) - (96.0 - 18)) < 1e-9, d.map(vset))
    val ix = GeomBoolean.intersectionPoly(a, b)
    assert(math.abs(polyArea(ix) - 18.0) < 1e-9, ix.map(vset))
    // symdifference = (A-B) + (B-A): 78 + (28-18) = 88
    val sd = GeomBoolean.holedSymDifferencePoly(a, b)
    assert(math.abs(polyArea(sd) - 88.0) < 1e-9)
  }

  test("island in a hole: no-crossing union keeps all three rings") {
    val a = Seq(Array(0.0, 0, 10, 0, 10, 10, 0, 10),
      Array(2.0, 2, 8, 2, 8, 8, 2, 8)) // area 100 - 36 = 64
    val b = Seq(Array(4.0, 4, 6, 4, 6, 6, 4, 6)) // inside the hole
    val u = GeomBoolean.holedUnionPoly(a, b)
    assert(u.size == 3, u.map(vset))
    assert(math.abs(polyArea(u) - 68.0) < 1e-9)
    // nesting orientation: exterior CCW, hole CW, island CCW again
    assert(u.count(GeomBoolean.signedArea(_) > 0) == 2)
    assert(u.count(GeomBoolean.signedArea(_) < 0) == 1)
    // intersection is empty (B sits in A's hole); difference = A
    assert(GeomBoolean.intersectionPoly(a, b).isEmpty)
    assert(math.abs(polyArea(GeomBoolean.holedDifferencePoly(a, b)) - 64.0)
      < 1e-9)
  }

  test("holed minus holed: hole structure cancels to ext-minus-ext") {
    // A = [0,20]^2 with hole [8,12]^2; B = [5,15]^2 with hole [9,11]^2
    // (B's hole nests inside A's hole). A - B = [0,20]^2 - [5,15]^2:
    // A's hole ring and B's hole ring both vanish from the boundary.
    val a = Seq(Array(0.0, 0, 20, 0, 20, 20, 0, 20),
      Array(8.0, 8, 12, 8, 12, 12, 8, 12))
    val b = Seq(Array(5.0, 5, 15, 5, 15, 15, 5, 15),
      Array(9.0, 9, 11, 9, 11, 11, 9, 11))
    val d = GeomBoolean.holedDifferencePoly(a, b)
    assert(d.size == 2, d.map(vset))
    assert(math.abs(polyArea(d) - 300.0) < 1e-9)
    // and a crossing variant: B2 = [15,25]x[5,15] crosses A's exterior;
    // A - B2 = 384 - 50, A's hole survives as a result hole
    val b2 = Seq(Array(15.0, 5, 25, 5, 25, 15, 15, 15))
    val d2 = GeomBoolean.holedDifferencePoly(a, b2)
    assert(math.abs(polyArea(d2) - 334.0) < 1e-9, d2.map(vset))
    assert(d2.exists(r => math.abs(GeomBoolean.signedArea(r) + 16.0) < 1e-9))
    // union of the two holed polygons: region(A) + region(B) - overlap;
    // overlap = B_ext minus A_hole = 100 - 16 = 84 (B's hole is inside
    // A's hole, so it subtracts nothing extra): 384 + 96 - 84 = 396.
    // The surviving pocket is exactly B's hole (the only part of A's
    // hole B doesn't cover): one CW ring of area 4.
    val u = GeomBoolean.holedUnionPoly(a, b)
    assert(math.abs(polyArea(u) - 396.0) < 1e-9, u.map(vset))
    val uHoles = u.filter(GeomBoolean.signedArea(_) < 0)
    assert(uHoles.size == 1 &&
      math.abs(GeomBoolean.signedArea(uHoles.head) + 4.0) < 1e-9)
  }

  test("SQL surface: a holed RESULT feeds back as an INPUT") {
    Registry.install(spark)
    def ringSql(flat: Array[Double]) = flat.grouped(2)
      .map(p => s"st_point(${p(0)}D, ${p(1)}D)").mkString("array(", ", ", ")")
    val ext = Array(0.0, 0, 10, 0, 10, 10, 0, 10)
    val hole = Array(4.0, 4, 6, 4, 6, 6, 4, 6)
    val bar = Array(3.0, -2, 7, -2, 7, 5, 3, 5)
    // st_polygon_difference makes the holed polygon; st_polygon_union
    // then CONSUMES it — the chaining the ring-only inputs forbade
    val row = spark.sql(
      s"""WITH holed AS (SELECT st_polygon_difference(
         |    ${ringSql(ext)}, ${ringSql(hole)}) AS p)
         |SELECT round(st_polygon_area(
         |    st_polygon_union(p, ${ringSql(bar)})), 4) AS u,
         |  round(st_polygon_area(
         |    st_polygon_difference(p, ${ringSql(bar)})), 4) AS d,
         |  round(st_polygon_area(
         |    st_polygon_symdifference(p, ${ringSql(bar)})), 4) AS sd
         |FROM holed""".stripMargin).head()
    assert(row.getDouble(0) == 106.0)
    assert(row.getDouble(1) == 78.0)
    assert(row.getDouble(2) == 88.0)
  }

  test("holed inputs with boundary contact resolve via perturbation") {
    // B shares a full edge with A's hole boundary: filling the hole
    // exactly from below — collinear overlap, the perturbation retry
    val a = Seq(Array(0.0, 0, 10, 0, 10, 10, 0, 10),
      Array(4.0, 4, 6, 4, 6, 6, 4, 6))
    val b = Seq(Array(4.0, 4, 6, 4, 6, 5, 4, 5)) // lower half of the hole
    val u = GeomBoolean.holedUnionPoly(a, b)
    assert(math.abs(polyArea(u) - 98.0) < 1e-6, u.map(vset))
  }

  test("traversal guard scales with input size (large square wave vs bar)") {
    // A 4000-tooth square wave crossed by a long bar: 16k subject
    // vertices, 16k intersections, 4000 result components. The
    // termination guard accumulates across ALL components of one call,
    // so it must scale with node count (r11 ADVICE) — a constant cap
    // sized for typical parcels would spuriously throw
    // "traversal did not terminate" on legitimately large inputs.
    val T = 4000
    val wave = {
      val b = Array.newBuilder[Double]
      b += 0.0; b += -5.0; b += 2.0 * T; b += -5.0 // bottom edge
      b += 2.0 * T; b += 0.0 // right side up to the tooth baseline
      var i = T - 1
      while (i >= 0) { // teeth, right to left: up at [2i, 2i+1]
        b += 2.0 * i + 1; b += 0.0
        b += 2.0 * i + 1; b += 10.0
        b += 2.0 * i; b += 10.0
        b += 2.0 * i; b += 0.0
        i -= 1
      }
      b.result()
    }
    val bar = Array(-1.0, 3.5, 2.0 * T + 1, 3.5, 2.0 * T + 1, 6.5, -1.0, 6.5)
    val inter = GeomBoolean.intersection(wave, bar)
    assert(inter.length == T) // one 1x3 rectangle per tooth
    assert(math.abs(inter.map(GeomBoolean.signedArea).sum - 3.0 * T) < 1e-6)
    // difference carves a 3-tall notch out of every tooth: the T cut-off
    // tooth tops detach, the bases stay fused to the bottom slab
    val diff = GeomBoolean.difference(wave, bar)
    assert(diff.length == T + 1)
    val waveArea = 10.0 * T + 10.0 * T // bottom slab 2T*5 + T teeth of 1*10
    assert(math.abs(diff.map(GeomBoolean.signedArea).sum -
      (waveArea - 3.0 * T)) < 1e-6)
  }
}
