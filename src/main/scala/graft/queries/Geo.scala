package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Registry
import graft.operators.SpatialJoin

/** Geospatial core — the point subset of the reference's geo plugin
  * (`presto-geospatial/.../GeoFunctions.java`: ST_Point/ST_X/ST_Y/
  * ST_AsText/ST_GeometryFromText/ST_Distance;
  * `SphericalGeographyUtils.java:82` great_circle_distance) plus the
  * spatial-join operator (`presto-main/.../SpatialJoinOperator.java`)
  * re-expressed as a grid-cell equi-join.
  *
  * Representation: a point is `struct<x:double,y:double>` — Spark-native,
  * codegen-friendly, shuffle-safe. The full Esri geometry model
  * (linestrings, multipolygons, relates) stays descoped per SURVEY §2;
  * convex-polygon containment is covered compositionally (edge sign
  * tests, `SpatialJoin.containsConvex`).
  *
  * The fixture tables carry no coordinates, so both engines derive them
  * with the same integer-modular formula over the keys — exact in double,
  * so every comparison below hash-matches bitwise (sqrt is IEEE
  * correctly-rounded on both engines; only the libm trig result is
  * rounded before comparing).
  *
  * Scale: qe0/qe2 are map-only projections (scan-speed). qe1's candidate
  * generation is an equi-join on grid cells — partition-parallel,
  * broadcastable small side, never a cross product; candidates grow with
  * local density, not corpus size² (same shape as the LSH dedup family).
  */
object Geo extends QueryPack {

  /** Deterministic coordinates in a 100x100 box from an integer key —
    * replayed verbatim by the DuckDB oracle. */
  private def coordSql(key: String): (String, String) =
    (s"(($key * 7919) % 1000) / 10.0", s"(($key * 104729) % 1000) / 10.0")

  // geofence quad, counter-clockwise
  private val Fence = Seq((20.0, 20.0), (80.0, 30.0), (70.0, 80.0), (30.0, 70.0))

  override def defs: Map[String, Q] = Map(
    // Point scalar surface as raw Presto SQL through the registry:
    // construct/accessors, WKT round-trip, planar distance, great-circle
    // distance (Vincenty form, EARTH_RADIUS_KM = 6371.01).
    "qe0_geo_scalars" -> ((s, dir) => {
      val (x, y) = coordSql("c_custkey")
      s.sql(
        s"""SELECT c_custkey,
           |  st_x(pt) AS px, st_y(pt) AS py,
           |  st_astext(pt) AS wkt,
           |  st_equals(st_geometryfromtext(st_astext(pt)), pt) AS rt_ok,
           |  st_distance(pt, st_point(50.0, 50.0)) AS dist_center,
           |  round(great_circle_distance(st_y(pt) - 50.0, st_x(pt), 0.0, 0.0), 4)
           |    AS gc_km
           |FROM (SELECT c_custkey, st_point($x, $y) AS pt FROM customer
           |      WHERE c_custkey <= 30) t
           |ORDER BY c_custkey""".stripMargin)
    }),

    // Radius join supplier->customer via the grid-cell operator; the
    // oracle replays the same pairs with a brute-force distance join
    // (fixture-sized), so any candidate the grid misses fails the gate.
    "qe1_spatial_join" -> ((s, dir) => {
      val (xS, yS) = coordSql("s_suppkey")
      val (xC, yC) = coordSql("c_custkey")
      val sup = s.table("supplier")
        .selectExpr("s_suppkey", s"$xS AS x", s"$yS AS y")
      val cust = s.table("customer")
        .selectExpr("c_custkey", s"$xC AS x", s"$yC AS y")
      SpatialJoin.withinRadius(sup, cust, "x", "y", radius = 5.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_within"), min(col("dist")).as("min_dist"))
        .orderBy(col("s_suppkey"))
    }),

    // Polygon measures (GeoFunctions ST_Area/ST_Centroid/ST_Length) over
    // implicit-closed quad rings on a dyadic (.5-step) coordinate grid:
    // every shoelace/centroid term is exact in double, so the oracle's
    // replay of the same formulas hash-matches bitwise, division included.
    "qf1_geo_polygon" -> ((s, dir) => {
      s.sql(
        """SELECT c_custkey,
          |  st_area(ring) AS area,
          |  st_x(st_centroid(ring)) AS cx,
          |  st_y(st_centroid(ring)) AS cy,
          |  st_length(ring) AS path_len
          |FROM (SELECT c_custkey,
          |        array(st_point(x, y), st_point(x + w, y),
          |              st_point(x + w, y + h), st_point(x, y + h)) AS ring
          |      FROM (SELECT c_custkey,
          |              ((c_custkey * 7919) % 200) / 2.0 AS x,
          |              ((c_custkey * 104729) % 200) / 2.0 AS y,
          |              cast(1 + c_custkey % 5 as double) AS w,
          |              cast(1 + c_custkey % 3 as double) AS h
          |            FROM customer WHERE c_custkey <= 25) a) b
          |ORDER BY c_custkey""".stripMargin)
    }),

    // Bing tile surface (BingTileFunctions.java): tile-at-point, quadkey
    // encode/decode round-trip, constructor equality, clipped 3x3
    // neighborhood, and the tile envelope (inverse Mercator corners,
    // rounded to 9 dp — atan/exp are libm, not IEEE-exact across
    // engines; the integer tile indices are floor-protected against ulp
    // jitter except within ~1e-10 of a tile edge, which the fixture
    // points avoid). Map-only (scan-speed); edge rows pin the clip
    // branches at both map poles and zoom 1/23.
    "qi6_bing_tiles" -> ((s, dir) => {
      s.sql(
        """WITH base AS (
          |  SELECT c_custkey AS id,
          |    ((c_custkey * 7919) % 1600) / 10.0 - 80.0 AS lat,
          |    ((c_custkey * 104729) % 3600) / 10.0 - 180.0 AS lon,
          |    cast(4 + c_custkey % 12 as int) AS z
          |  FROM customer WHERE c_custkey <= 20
          |  UNION ALL
          |  SELECT * FROM VALUES
          |    (1001L, 85.05112878D, -180.0D, 4),
          |    (1002L, -85.05112878D, 179.9999D, 4),
          |    (1003L, 0.0D, 0.0D, 1),
          |    (1004L, 47.6097D, -122.3331D, 23) AS v(id, lat, lon, z)),
          |t AS (SELECT id, lat, lon, z,
          |        bing_tile_at(lat, lon, z) AS tile,
          |        bing_tiles_around(lat, lon, z) AS around
          |      FROM base),
          |p AS (SELECT id, z, tile, around,
          |        bing_tile_polygon(tile) AS poly,
          |        bing_tile_quadkey(tile) AS qk
          |      FROM t)
          |SELECT id, tile.x AS tx, tile.y AS ty,
          |  bing_tile_zoom_level(tile) AS zl, qk,
          |  bing_tile(qk) = tile AS rt_ok,
          |  bing_tile(tile.x, tile.y, z) = tile AS ctor_ok,
          |  size(around) AS n_around,
          |  aggregate(transform(around, a -> a.x + a.y), 0,
          |            (s, v) -> s + v) AS around_sum,
          |  round(element_at(poly, 1).x, 9) AS min_lon,
          |  round(element_at(poly, 1).y, 9) AS min_lat,
          |  round(element_at(poly, 3).x, 9) AS max_lon,
          |  round(element_at(poly, 3).y, 9) AS max_lat
          |FROM p ORDER BY id""".stripMargin)
    }),

    // Geofence containment: convex point-in-polygon as edge sign tests
    // (pure builtin arithmetic), aggregated per market segment.
    "qe2_geofence" -> ((s, dir) => {
      val (x, y) = coordSql("c_custkey")
      val pts = s.table("customer")
        .selectExpr("c_custkey", "c_mktsegment", s"$x AS x", s"$y AS y")
      pts.withColumn("inside",
          SpatialJoin.containsConvex(Fence, col("x"), col("y")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
        .orderBy(col("c_mktsegment"))
    }),

    // Linestring surface (GeoFunctions ST_LineFromText/ST_NumPoints/
    // ST_PointN/ST_StartPoint/ST_EndPoint/ST_IsClosed/ST_IsEmpty,
    // envelope family) and NON-convex containment: st_contains is now
    // even-odd ray casting, so the L-shaped ring's notch correctly
    // excludes (3,3) while both arms contain their points — the case the
    // earlier convex-only edge-sign operator could not express. Segment
    // lengths are 3-4-5 multiples or single sqrts, so every double here
    // is reproducible bitwise.
    "ql2_geometry_linestring" -> ((s, dir) => {
      s.sql(Registry.rewritePrestoSql(
        """WITH ls AS (
          |  SELECT cast(id as bigint) AS id,
          |    st_linefromtext(wkt) AS line, st_geometryfromtext(pw) AS pt
          |  FROM VALUES
          |    (1, 'LINESTRING (0 0, 3 4, 6 8)', 'POINT (1 1)'),
          |    (2, 'LINESTRING (2 2, 2 6, 5 6, 2 2)', 'POINT (3 3)'),
          |    (3, 'LINESTRING (0 0, 10 0)', 'POINT (3 1)'),
          |    (4, 'LINESTRING (1 1, 2 2)', 'POINT (5 5)'),
          |    (5, 'LINESTRING (-1 -1, -2 -3, 4 0)', 'POINT (1 3)')
          |    AS t(id, wkt, pw))
          |SELECT id,
          |  st_numpoints(line) AS n_pts,
          |  st_pointn(line, 2).x AS p2x,
          |  st_pointn(line, 99) IS NULL AS oob_null,
          |  st_startpoint(line).x AS sx, st_endpoint(line).y AS ey,
          |  st_isclosed(line) AS closed, st_isempty(line) AS empty,
          |  st_xmin(line) AS xmn, st_xmax(line) AS xmx,
          |  st_ymin(line) AS ymn, st_ymax(line) AS ymx,
          |  st_area(st_envelope(line)) AS env_area,
          |  st_length(line) AS len,
          |  st_contains(array(st_point(0, 0), st_point(4, 0),
          |    st_point(4, 2), st_point(2, 2), st_point(2, 4),
          |    st_point(0, 4)), pt) AS in_lshape,
          |  st_within(pt, array(st_point(0, 0), st_point(4, 0),
          |    st_point(4, 2), st_point(2, 2), st_point(2, 4),
          |    st_point(0, 4))) AS within_lshape
          |FROM ls ORDER BY id""".stripMargin))
    }),

    // ST_Intersects / ST_Disjoint over linestring pairs (GeoFunctions;
    // native segment-pair orientation tests, endpoints inclusive —
    // functions/GeomExpressions.scala). Cases: proper crossing, endpoint
    // touch, collinear overlap, collinear gap, parallel, point-on-line,
    // point-off-line, and a crossing on a LATER segment of a polyline.
    // The oracle replays the identical cross-product predicate over
    // unnested segment pairs in DuckDB.
    "ql4_geometry_intersects" -> ((s, dir) => {
      s.sql(Registry.rewritePrestoSql(
        """WITH g AS (
          |  SELECT cast(id as bigint) AS id,
          |    st_linefromtext(aw) AS la, st_linefromtext(bw) AS lb
          |  FROM VALUES
          |    (1, 'LINESTRING (0 0, 4 4)', 'LINESTRING (0 4, 4 0)'),
          |    (2, 'LINESTRING (0 0, 2 2)', 'LINESTRING (2 2, 5 1)'),
          |    (3, 'LINESTRING (0 0, 4 0)', 'LINESTRING (2 0, 6 0)'),
          |    (4, 'LINESTRING (0 0, 1 0)', 'LINESTRING (2 0, 3 0)'),
          |    (5, 'LINESTRING (0 0, 4 0)', 'LINESTRING (0 1, 4 1)'),
          |    (6, 'LINESTRING (2 0)', 'LINESTRING (0 0, 4 0)'),
          |    (7, 'LINESTRING (2 1)', 'LINESTRING (0 0, 4 0)'),
          |    (8, 'LINESTRING (0 0, 1 0, 1 3)', 'LINESTRING (0 2, 5 2)')
          |    AS t(id, aw, bw))
          |SELECT id, st_intersects(la, lb) AS hits,
          |  st_disjoint(la, lb) AS apart
          |FROM g ORDER BY id""".stripMargin))
    }),

    // Length-indexed line referencing (GeoFunctions line_locate_point /
    // line_interpolate_point — JTS LengthIndexedLine semantics): nearest
    // -projection fraction and point-at-fraction, walked over segments
    // in order. Cases: interior projection, point exactly on the line,
    // nearest on a later segment, clamp to the start vertex, and both
    // fraction endpoints. The oracle replays projection/argmin and the
    // cumulative-length walk over unnested segments.
    "ql5_line_reference" -> ((s, dir) => {
      s.sql(Registry.rewritePrestoSql(
        """WITH g AS (
          |  SELECT cast(id as bigint) AS id, st_linefromtext(w) AS line,
          |    st_point(px, py) AS pt, f
          |  FROM VALUES
          |    (1, 'LINESTRING (0 0, 10 0)', 3.0D, 4.0D, 0.25D),
          |    (2, 'LINESTRING (0 0, 3 4, 6 8)', 3.0D, 4.0D, 0.5D),
          |    (3, 'LINESTRING (0 0, 4 0, 4 3)', 5.0D, 1.0D, 1.0D),
          |    (4, 'LINESTRING (0 0, 4 0, 4 3)', -2.0D, -2.0D, 0.0D),
          |    (5, 'LINESTRING (1 1, 9 1)', 5.0D, 5.0D, 0.875D)
          |    AS t(id, w, px, py, f))
          |SELECT id,
          |  line_locate_point(line, pt) AS frac,
          |  line_interpolate_point(line, f).x AS ix,
          |  line_interpolate_point(line, f).y AS iy
          |FROM g ORDER BY id""".stripMargin))
    }),

    // simplify_geometry (Douglas-Peucker; GeoFunctions.java:758) +
    // envelope extras. The oracle carries the hand-derived simplified
    // shapes (the bing-tile stance): flatten drops interior vertices
    // inside tolerance, the spike survives, the mixed case keeps only
    // the tall vertex (the 0.05 bumps fall inside the split chords'
    // tolerance), tolerance 0 is identity.
    "ql6_geometry_simplify" -> ((s, dir) => {
      s.sql(Registry.rewritePrestoSql(
        """WITH g AS (
          |  SELECT cast(id as bigint) AS id,
          |    simplify_geometry(st_linefromtext(w), tol) AS simp,
          |    st_linefromtext(w) AS line
          |  FROM VALUES
          |    (1, 'LINESTRING (0 0, 1 0.1, 2 0)', 0.5D),
          |    (2, 'LINESTRING (0 0, 2 2, 4 0)', 0.5D),
          |    (3, 'LINESTRING (0 0, 1 0.05, 2 1, 3 0.05, 4 0)', 0.5D),
          |    (4, 'LINESTRING (0 0, 1 0.1, 2 0)', 0.0D)
          |    AS t(id, w, tol))
          |SELECT id,
          |  st_numpoints(simp) AS n_simp,
          |  st_pointn(simp, 2).x AS x2, st_pointn(simp, 2).y AS y2,
          |  st_endpoint(simp).x AS xe,
          |  cast(st_coorddim(line) as int) AS cdim,
          |  st_numinteriorring(line) AS n_holes,
          |  st_xmin(expand_envelope(line, 1.5D)) AS exmn,
          |  st_ymax(expand_envelope(line, 1.5D)) AS eymx
          |FROM g ORDER BY id""".stripMargin))
    }),

    // convex_hull_agg (ConvexHullAggregation.java) as a distributed
    // aggregation: per group, points on the parabola (t, t²) plus
    // planted interior points (t, t²+5) strictly under the (0,0)-(9,81)
    // chord — the hull is exactly the 10 curve points in canonical CCW
    // order, and its shoelace area is Σ t(t+1) / 2 = 120, both replayed
    // arithmetically by the oracle. Hull state is tiny and merge is
    // hull-of-union (associative) — one partial+final agg at any scale.
    "qm3_convex_hull" -> ((s, dir) => {
      s.sql(
        """WITH pts AS (
          |  SELECT (c_custkey div 10) % 4 AS g,
          |    st_point(cast(c_custkey % 10 as double),
          |      cast((c_custkey % 10) * (c_custkey % 10) +
          |        CASE WHEN c_custkey % 7 < 3
          |              AND c_custkey % 10 BETWEEN 1 AND 8
          |             THEN 5 ELSE 0 END as double)) AS p
          |  FROM customer),
          |hulls AS (SELECT cast(g as bigint) AS g, convex_hull_agg(p) AS h
          |          FROM pts GROUP BY g)
          |SELECT g, cast(size(h) as bigint) AS n_hull,
          |  array_join(transform(h, q ->
          |    concat(cast(cast(q.x as int) as string), ':',
          |           cast(cast(q.y as int) as string))), ',') AS hull_txt,
          |  round(st_area(h), 4) AS hull_area
          |FROM hulls ORDER BY g""".stripMargin)
    }),

    // ST_Intersection for the convex-clip case (Sutherland–Hodgman):
    // square ∩ cutting triangle = an exact pentagon (area 100 − 12.5),
    // disjoint → empty, contained → identity. All intersection vertices
    // land on integers, so the oracle carries the hand-derived shapes.
    "qm4_convex_clip" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT id, st_intersection(subj, clip) AS c FROM (
          |    SELECT 1 AS id,
          |      array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |            st_point(0D,10D)) AS subj,
          |      array(st_point(0D,0D), st_point(15D,0D), st_point(0D,15D))
          |        AS clip
          |    UNION ALL SELECT 2,
          |      array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |            st_point(0D,10D)),
          |      array(st_point(100D,100D), st_point(110D,100D),
          |            st_point(100D,110D))
          |    UNION ALL SELECT 3,
          |      array(st_point(2D,2D), st_point(4D,2D), st_point(4D,4D),
          |            st_point(2D,4D)),
          |      array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |            st_point(0D,10D))))
          |SELECT cast(id as bigint) AS id, cast(size(c) as bigint) AS n_clip,
          |  array_join(transform(c, q ->
          |    concat(cast(cast(q.x as int) as string), ':',
          |           cast(cast(q.y as int) as string))), ',') AS clip_txt,
          |  round(CASE WHEN size(c) = 0 THEN 0D ELSE st_area(c) END, 4)
          |    AS clip_area
          |FROM g ORDER BY id""".stripMargin)
    }),

    // The segment subset of ST_Crosses/ST_Touches/ST_Overlaps (DE-9IM
    // via orientation signs): key-derived integer segments, so every
    // cross product is exact in double and the oracle replays the sign
    // logic term-for-term. Map-only relate work — scan-speed at scale.
    "qm5_segment_relations" -> ((s, dir) => {
      s.sql(
        """WITH seg AS (
          |  SELECT c_custkey AS k,
          |    cast(c_custkey % 13 as double) AS x1,
          |    cast(c_custkey * 3 % 11 as double) AS y1,
          |    cast(c_custkey * 5 % 13 as double) AS x2,
          |    cast(c_custkey * 7 % 11 as double) AS y2,
          |    cast(c_custkey * 2 % 13 as double) AS x3,
          |    cast(c_custkey * 9 % 11 as double) AS y3,
          |    cast(c_custkey * 4 % 13 as double) AS x4,
          |    cast(c_custkey * 6 % 11 as double) AS y4
          |  FROM customer WHERE c_custkey <= 500),
          |ok AS (SELECT * FROM seg
          |  WHERE NOT (x1 = x2 AND y1 = y2) AND NOT (x3 = x4 AND y3 = y4)),
          |r AS (SELECT k % 5 AS bucket,
          |    st_crosses(array(st_point(x1, y1), st_point(x2, y2)),
          |               array(st_point(x3, y3), st_point(x4, y4))) AS cr,
          |    st_touches(array(st_point(x1, y1), st_point(x2, y2)),
          |               array(st_point(x3, y3), st_point(x4, y4))) AS tc,
          |    st_overlaps(array(st_point(x1, y1), st_point(x2, y2)),
          |                array(st_point(x3, y3), st_point(x4, y4))) AS ov,
          |    st_intersects(array(st_point(x1, y1), st_point(x2, y2)),
          |                  array(st_point(x3, y3), st_point(x4, y4))) AS ix
          |  FROM ok)
          |SELECT cast(bucket as bigint) AS bucket,
          |  cast(count(*) as bigint) AS n,
          |  cast(sum(CASE WHEN cr THEN 1 ELSE 0 END) as bigint) AS n_crosses,
          |  cast(sum(CASE WHEN tc THEN 1 ELSE 0 END) as bigint) AS n_touches,
          |  cast(sum(CASE WHEN ov THEN 1 ELSE 0 END) as bigint) AS n_overlaps,
          |  cast(sum(CASE WHEN ix THEN 1 ELSE 0 END) as bigint) AS n_intersects
          |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)
    }),

    // Polygon boolean algebra (Greiner–Hormann, GeomBoolean.scala):
    // union/difference/symdifference over corner-overlapping and
    // disjoint squares — intersections land on integer coordinates, so
    // the oracle carries the hand-derived multipolygons exactly.
    // Results are canonical (CCW from lex-min vertex, components
    // sorted), making the vertex text deterministic.
    "qm7_polygon_boolean" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT 1 AS id,
          |    array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |          st_point(0D,10D)) AS s,
          |    array(st_point(5D,5D), st_point(15D,5D), st_point(15D,15D),
          |          st_point(5D,15D)) AS c
          |  UNION ALL SELECT 2,
          |    array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |          st_point(0D,10D)),
          |    array(st_point(20D,0D), st_point(30D,0D), st_point(30D,10D),
          |          st_point(20D,10D)))
          |SELECT cast(id as bigint) AS id,
          |  cast(size(st_union(s, c)) as bigint) AS n_union,
          |  round(aggregate(transform(st_union(s, c), r -> st_area(r)),
          |    0D, (acc, a) -> acc + a), 4) AS union_area,
          |  array_join(transform(element_at(st_union(s, c), 1), q ->
          |    concat(cast(cast(q.x as int) as string), ':',
          |           cast(cast(q.y as int) as string))), ',') AS u1_txt,
          |  cast(size(st_difference(s, c)) as bigint) AS n_diff,
          |  round(aggregate(transform(st_difference(s, c), r -> st_area(r)),
          |    0D, (acc, a) -> acc + a), 4) AS diff_area,
          |  cast(size(st_symdifference(s, c)) as bigint) AS n_sym,
          |  round(aggregate(transform(st_symdifference(s, c),
          |    r -> st_area(r)), 0D, (acc, a) -> acc + a), 4) AS sym_area,
          |  cast(size(geometry_union(array(s, c))) as bigint) AS n_gu
          |FROM g ORDER BY id""".stripMargin)
    }),

    // r10: holed INPUTS to the polygon booleans — the Foster–Hormann
    // multi-ring clipper behind st_polygon_union/difference/
    // symdifference (and their ST_ spellings), closing the last
    // geometry limit vs the reference's Esri delegation
    // (GeoFunctions.java:581,921). Each row CONSTRUCTS a polygon with
    // interior rings via st_polygon_difference and feeds it BACK as an
    // input. Row 1: 10x10 with a [4,6]^2 hole (96) crossed by a bar
    // [3,7]x[-2,5] that enters the hole — union 106 (pocket shrinks to
    // [4,6]x[5,6]), difference 78, symdifference 88. Row 2:
    // island-in-hole — B sits inside A's [2,8]^2 hole; union keeps all
    // three rings (68), difference is A unchanged (64), intersection
    // empty. Row 3: holed minus holed with nested holes — the hole
    // structure cancels to ext-minus-ext (300 over 2 rings); union 396
    // with B's hole the one surviving pocket. Hand-derived oracle, the
    // q0x stance.
    "q1g_holed_inputs" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT 1 AS id,
          |    st_polygon_difference(
          |      array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |            st_point(0D,10D)),
          |      array(st_point(4D,4D), st_point(6D,4D), st_point(6D,6D),
          |            st_point(4D,6D))) AS a,
          |    array(array(st_point(3D,-2D), st_point(7D,-2D),
          |          st_point(7D,5D), st_point(3D,5D))) AS b
          |  UNION ALL SELECT 2,
          |    st_polygon_difference(
          |      array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |            st_point(0D,10D)),
          |      array(st_point(2D,2D), st_point(8D,2D), st_point(8D,8D),
          |            st_point(2D,8D))),
          |    array(array(st_point(4D,4D), st_point(6D,4D),
          |          st_point(6D,6D), st_point(4D,6D)))),
          |h AS (
          |  SELECT 3 AS id,
          |    st_polygon_difference(
          |      array(st_point(0D,0D), st_point(20D,0D), st_point(20D,20D),
          |            st_point(0D,20D)),
          |      array(st_point(8D,8D), st_point(12D,8D), st_point(12D,12D),
          |            st_point(8D,12D))) AS a,
          |    st_polygon_difference(
          |      array(st_point(5D,5D), st_point(15D,5D), st_point(15D,15D),
          |            st_point(5D,15D)),
          |      array(st_point(9D,9D), st_point(11D,9D), st_point(11D,11D),
          |            st_point(9D,11D))) AS b),
          |all_rows AS (SELECT id, a, b FROM g
          |             UNION ALL SELECT id, a, b FROM h)
          |SELECT cast(id as bigint) AS id,
          |  cast(size(a) as bigint) AS n_in,
          |  round(st_polygon_area(st_polygon_union(a, b)), 4) AS u_area,
          |  cast(size(st_polygon_union(a, b)) as bigint) AS n_u,
          |  round(st_polygon_area(st_polygon_difference(a, b)), 4)
          |    AS d_area,
          |  round(st_polygon_area(st_polygon_symdifference(a, b)), 4)
          |    AS sd_area
          |FROM all_rows ORDER BY id""".stripMargin)
    }),

    // r8c: hole-producing boolean configurations under the holed
    // structural spellings. Row 1 — the DONUT union: a U-shape (30x30
    // minus an upward 10x20 notch, area 700) bridged by a cap bar
    // (20x5, arm overlap 50) yields one exterior plus the enclosed
    // pocket as a CW interior ring; net area 700+100-50 = 750, hole
    // area 100. Row 2 — clip strictly inside subject: symdifference is
    // [A, reversed B] (1600-400 = 1200) and difference likewise punches
    // the hole (96 for the 10x10 minus 2x2 case on row 3). Hand-derived
    // oracle constants, the qm7 stance.
    "q0x_holed_boolean" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT 1 AS id,
          |    array(st_point(0D,0D), st_point(30D,0D), st_point(30D,30D),
          |          st_point(20D,30D), st_point(20D,10D), st_point(10D,10D),
          |          st_point(10D,30D), st_point(0D,30D)) AS a,
          |    array(st_point(5D,20D), st_point(25D,20D), st_point(25D,25D),
          |          st_point(5D,25D)) AS b),
          |h AS (
          |  SELECT 2 AS id,
          |    array(st_point(0D,0D), st_point(40D,0D), st_point(40D,40D),
          |          st_point(0D,40D)) AS a,
          |    array(st_point(10D,10D), st_point(30D,10D), st_point(30D,30D),
          |          st_point(10D,30D)) AS b)
          |SELECT cast(id as bigint) AS id,
          |  cast(size(st_polygon_union(a, b)) as bigint) AS n_u,
          |  round(st_polygon_area(st_polygon_union(a, b)), 4) AS u_area,
          |  round(st_area(element_at(st_polygon_union(a, b),
          |    size(st_polygon_union(a, b)))), 4) AS last_ring_area,
          |  cast(size(st_polygon_symdifference(a, b)) as bigint) AS n_sd,
          |  round(st_polygon_area(st_polygon_symdifference(a, b)), 4)
          |    AS sd_area,
          |  cast(size(st_polygon_difference(a, b)) as bigint) AS n_d,
          |  round(st_polygon_area(st_polygon_difference(a, b)), 4) AS d_area
          |FROM (SELECT * FROM g UNION ALL SELECT * FROM h) t
          |ORDER BY id""".stripMargin)
    }),

    // r8: boundary-contact polygon booleans — the configurations the
    // clipper used to reject (vertex-on-edge, shared full edge,
    // collinear overlapping edges) now resolve via the deterministic
    // perturbation retry; areas are exact at the gate's rounding. Row 1:
    // abutting parcels FUSE to one component of area 200. Row 2: a
    // triangle touching the square's edge at a vertex. Row 3:
    // rectangles overlapping with collinear top/bottom edges.
    "ql8_degenerate_boolean" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT 1 AS id,
          |    array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |          st_point(0D,10D)) AS s,
          |    array(st_point(10D,0D), st_point(20D,0D), st_point(20D,10D),
          |          st_point(10D,10D)) AS c
          |  UNION ALL SELECT 2,
          |    array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |          st_point(0D,10D)),
          |    array(st_point(10D,3D), st_point(14D,2D), st_point(14D,6D))
          |  UNION ALL SELECT 3,
          |    array(st_point(0D,0D), st_point(2D,0D), st_point(2D,1D),
          |          st_point(0D,1D)),
          |    array(st_point(1D,0D), st_point(3D,0D), st_point(3D,1D),
          |          st_point(1D,1D)))
          |SELECT cast(id as bigint) AS id,
          |  cast(size(st_union(s, c)) as bigint) AS n_union,
          |  round(aggregate(transform(st_union(s, c), r -> st_area(r)),
          |    0D, (acc, a) -> acc + a), 4) AS union_area,
          |  round(aggregate(transform(st_polygon_intersection(s, c),
          |    r -> st_area(r)), 0D, (acc, a) -> acc + a), 4) AS int_area,
          |  round(aggregate(transform(st_difference(s, c), r -> st_area(r)),
          |    0D, (acc, a) -> acc + a), 4) AS diff_area,
          |  round(aggregate(transform(st_symdifference(s, c),
          |    r -> st_area(r)), 0D, (acc, a) -> acc + a), 4) AS sym_area
          |FROM g ORDER BY id""".stripMargin)
    }),

    // geometry_union_agg: distributed union of a per-group chain of
    // overlapping squares (x stride 8 < width 10; y stride 0.5 keeps
    // every edge pair off-collinear — general position for the GH
    // clipper). Each group's chain fuses to ONE component whose area is
    // inclusion-exclusion exact: 5·100 − 4·(2 × 9.5) = 424. State is
    // the fused multipolygon — output-sized, not input-sized.
    "qm8_geometry_union_agg" -> ((s, dir) => {
      s.sql(
        """WITH sq AS (
          |  SELECT cast(c_custkey % 3 as bigint) AS g,
          |    array(st_point(x0, y0), st_point(x0 + 10, y0),
          |          st_point(x0 + 10, y0 + 10), st_point(x0, y0 + 10)) AS r
          |  FROM (SELECT c_custkey,
          |          cast(c_custkey % 5 * 8 as double) AS x0,
          |          cast(c_custkey % 5 as double) / 2 AS y0
          |        FROM customer)),
          |u AS (SELECT g, geometry_union_agg(r) AS m FROM sq GROUP BY g)
          |SELECT g, cast(size(m) as bigint) AS n_comp,
          |  round(aggregate(transform(m, r -> st_area(r)), 0D,
          |    (acc, a) -> acc + a), 4) AS total_area
          |FROM u ORDER BY g""".stripMargin)
    }),

    // ST_Relate DE-9IM pattern tests (GeoFunctions.java:1106): one row
    // per general-position relationship class; the oracle carries the
    // hand-written matrices (standard area/area DE-9IM values).
    "qm9_relate" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT id,
          |    array(st_point(0D,0D), st_point(10D,0D), st_point(10D,10D),
          |          st_point(0D,10D)) AS a,
          |    b FROM (
          |    SELECT 1 AS id, array(st_point(5D,5D), st_point(15D,5D),
          |      st_point(15D,15D), st_point(5D,15D)) AS b
          |    UNION ALL SELECT 2, array(st_point(3D,3D), st_point(6D,3D),
          |      st_point(6D,6D), st_point(3D,6D))
          |    UNION ALL SELECT 3, array(st_point(20D,20D), st_point(30D,20D),
          |      st_point(30D,30D), st_point(20D,30D))))
          |SELECT cast(id as bigint) AS id,
          |  st_relate(a, b, '212101212') AS is_overlap,
          |  st_relate(a, b, '212FF1FF2') AS is_contains,
          |  st_relate(a, b, 'FF2FF1212') AS is_disjoint,
          |  st_relate(a, b, 'T*T***T**') AS t_overlap,
          |  st_relate(b, a, 'T*F**F***') AS b_within_a
          |FROM g ORDER BY id""".stripMargin)
    }),

    // Structural geometry surface: WKT polygon parse, type/dimension
    // from the explicit-closure tag, boundary/points/interior-ring
    // answers, WKB round-trip, and the 32-gon point buffer. Oracle
    // carries the hand-derived values.
    // Polygon-with-holes structural layer (GeoFunctions.java:581,921 —
    // the Esri-backed reference handles interior rings; GeomAlgebra's
    // HoledPolygon/HoledContains/WkbPolygon* generalize area/centroid/
    // contains and WKB to [exterior, holes...]). 10x10 exterior minus a
    // 3x3 and a 2x2 hole: area 87, centroid (440.5/87, 440.5/87), parity
    // containment in/out of each hole, and a byte-exact WKB round-trip
    // (ext CCW, holes CW — the convention the reader normalizes to).
    "qn5_holed_polygon" -> ((s, dir) => {
      s.sql(
        """WITH p AS (SELECT array(
          |    array(st_point(0D, 0D), st_point(10D, 0D),
          |          st_point(10D, 10D), st_point(0D, 10D)),
          |    array(st_point(2D, 2D), st_point(2D, 5D),
          |          st_point(5D, 5D), st_point(5D, 2D)),
          |    array(st_point(6D, 6D), st_point(6D, 8D),
          |          st_point(8D, 8D), st_point(8D, 6D))) AS poly)
          |SELECT cast(1 as bigint) AS id,
          |  st_polygon_area(poly) AS area,
          |  round(st_polygon_centroid(poly).x, 6) AS cx,
          |  round(st_polygon_centroid(poly).y, 6) AS cy,
          |  st_polygon_contains(poly, st_point(1D, 1D)) AS in_solid,
          |  st_polygon_contains(poly, st_point(3D, 3D)) AS in_hole,
          |  st_polygon_contains(poly, st_point(5.5D, 5.5D))
          |    AS between_holes,
          |  st_polygon_contains(poly, st_point(7D, 7D)) AS in_hole2,
          |  st_polygon_contains(poly, st_point(11D, 5D)) AS outside,
          |  st_polygon_from_binary(st_polygon_as_binary(poly)) = poly
          |    AS wkb_rt,
          |  cast(length(st_polygon_as_binary(poly)) as bigint) AS wkb_len
          |FROM p""".stripMargin)
    }),

    // st_polygon_difference: the hole-PRODUCING boolean op (reference
    // GeoFunctions.java:921 — Esri difference yields interior rings).
    // A contained clip punches a hole ([exterior, reversed clip], the
    // qn5 structural type: area/centroid/contains/WKB compose);
    // boundary-crossing clips take the Greiner–Hormann path (single
    // hole-free component); disjoint clips remove nothing. Every value
    // hand-derived: 10x10 minus the contained 3x3 leaves 91; the
    // crossing half-slab leaves the right half 5x10 = 50.
    "qr0_holed_difference" -> ((s, dir) => {
      s.sql(
        """WITH g AS (SELECT
          |  array(st_point(0D, 0D), st_point(10D, 0D),
          |        st_point(10D, 10D), st_point(0D, 10D)) AS subj,
          |  array(st_point(3D, 3D), st_point(6D, 3D),
          |        st_point(6D, 6D), st_point(3D, 6D)) AS inner_clip,
          |  array(st_point(-1D, -1D), st_point(5D, -1D),
          |        st_point(5D, 11D), st_point(-1D, 11D)) AS half_slab,
          |  array(st_point(4D, -1D), st_point(6D, -1D),
          |        st_point(6D, 11D), st_point(4D, 11D)) AS bar_clip,
          |  array(st_point(20D, 20D), st_point(22D, 20D),
          |        st_point(22D, 22D), st_point(20D, 22D)) AS far_clip)
          |SELECT cast(1 as bigint) AS id,
          |  st_polygon_area(st_polygon_difference(subj, inner_clip))
          |    AS holed_area,
          |  cast(size(st_polygon_difference(subj, inner_clip)) as bigint)
          |    AS holed_rings,
          |  st_polygon_contains(st_polygon_difference(subj, inner_clip),
          |    st_point(4.5D, 4.5D)) AS centre_in_hole,
          |  st_polygon_contains(st_polygon_difference(subj, inner_clip),
          |    st_point(1D, 1D)) AS corner_solid,
          |  st_polygon_from_binary(st_polygon_as_binary(
          |    st_polygon_difference(subj, inner_clip))) =
          |    st_polygon_difference(subj, inner_clip) AS wkb_rt,
          |  st_polygon_area(st_polygon_difference(subj, half_slab))
          |    AS crossed_area,
          |  cast(size(st_polygon_difference(subj, half_slab)) as bigint)
          |    AS crossed_rings,
          |  st_polygon_area(st_polygon_difference(subj, far_clip))
          |    AS disjoint_area,
          |  cast(size(st_polygon_difference(inner_clip, subj)) as bigint)
          |    AS swallowed_rings,
          |  cast(size(st_polygon_difference(subj, bar_clip)) as bigint)
          |    AS split_rings,
          |  least(
          |    st_polygon_area(array(
          |      element_at(st_polygon_difference(subj, bar_clip), 1))),
          |    st_polygon_area(array(
          |      element_at(st_polygon_difference(subj, bar_clip), 2))))
          |    AS split_area_lo,
          |  greatest(
          |    st_polygon_area(array(
          |      element_at(st_polygon_difference(subj, bar_clip), 1))),
          |    st_polygon_area(array(
          |      element_at(st_polygon_difference(subj, bar_clip), 2))))
          |    AS split_area_hi
          |FROM g""".stripMargin)
    }),

    "qm6_geometry_structure" -> ((s, dir) => {
      s.sql(
        """WITH g AS (
          |  SELECT id, st_polygon(w) AS poly, st_linefromtext(l) AS line
          |  FROM VALUES
          |    (1, 'POLYGON ((0 0, 4 0, 4 3, 0 0))',
          |        'LINESTRING (0 0, 2 2, 4 0)'),
          |    (2, 'POLYGON ((1 2, 5 2, 5 6, 1 6, 1 2))',
          |        'LINESTRING (1 1, 3 1)') AS t(id, w, l))
          |SELECT cast(id as bigint) AS id,
          |  st_geometrytype(poly) AS ptype, st_geometrytype(line) AS ltype,
          |  st_dimension(poly) AS pdim, st_dimension(line) AS ldim,
          |  st_numgeometries(st_points(line)) AS npts,
          |  st_astext(st_geometryn(st_points(line), 2)) AS second_pt,
          |  cast(size(st_boundary(line)) as bigint) AS nbound,
          |  cast(size(st_interiorrings(poly)) as bigint) AS nint,
          |  st_isring(st_exteriorring(poly)) AS ring_ok,
          |  st_isvalid(poly) AS valid_ok,
          |  round(st_area(poly), 4) AS parea,
          |  st_geomfrombinary(st_asbinary(line)) = line AS wkb_rt,
          |  cast(size(st_buffer(st_point(1.0, 2.0), 3.0)) as bigint)
          |    AS nbuf
          |FROM g ORDER BY id""".stripMargin)
    })
  )

  override def oracles: Map[String, String] = {
    val (xC, yC) = coordSql("c_custkey")
    val (xS, yS) = coordSql("s_suppkey")
    Map(
      "qe0_geo_scalars" ->
        s"""WITH t AS (SELECT c_custkey, $xC AS x, $yC AS y FROM customer
           |           WHERE c_custkey <= 30)
           |SELECT c_custkey, x AS px, y AS py,
           |  'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')'
           |    AS wkt,
           |  true AS rt_ok,
           |  sqrt((x - 50.0) * (x - 50.0) + (y - 50.0) * (y - 50.0))
           |    AS dist_center,
           |  round(atan2(sqrt(
           |      pow(cos(radians(0.0)) * sin(radians(x) - radians(0.0)), 2) +
           |      pow(cos(radians(y - 50.0)) * sin(radians(0.0)) -
           |          sin(radians(y - 50.0)) * cos(radians(0.0)) *
           |          cos(radians(x) - radians(0.0)), 2)),
           |    sin(radians(y - 50.0)) * sin(radians(0.0)) +
           |    cos(radians(y - 50.0)) * cos(radians(0.0)) *
           |    cos(radians(x) - radians(0.0))) * 6371.01, 4) AS gc_km
           |FROM t ORDER BY c_custkey""".stripMargin,

      "qe1_spatial_join" ->
        s"""WITH s AS (SELECT s_suppkey, $xS AS x, $yS AS y FROM supplier),
           |c AS (SELECT c_custkey, $xC AS x, $yC AS y FROM customer)
           |SELECT s.s_suppkey, count(*) AS n_within,
           |  min(sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)))
           |    AS min_dist
           |FROM s, c
           |WHERE sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y))
           |  <= 5.0
           |GROUP BY s.s_suppkey ORDER BY s.s_suppkey""".stripMargin,

      "qf1_geo_polygon" ->
        """WITH a AS (SELECT c_custkey,
          |    ((c_custkey * 7919) % 200) / 2.0 AS x,
          |    ((c_custkey * 104729) % 200) / 2.0 AS y,
          |    CAST(1 + c_custkey % 5 AS DOUBLE) AS w,
          |    CAST(1 + c_custkey % 3 AS DOUBLE) AS h
          |  FROM customer WHERE c_custkey <= 25),
          |t AS (SELECT c_custkey, x, y, w, h,
          |    (x * y - (x + w) * y) AS t1,
          |    ((x + w) * (y + h) - (x + w) * y) AS t2,
          |    ((x + w) * (y + h) - x * (y + h)) AS t3,
          |    (x * y - x * (y + h)) AS t4
          |  FROM a)
          |SELECT c_custkey,
          |  abs(t1 + t2 + t3 + t4) / 2 AS area,
          |  ((x + (x + w)) * t1 + ((x + w) + (x + w)) * t2
          |    + ((x + w) + x) * t3 + (x + x) * t4)
          |    / (3 * (t1 + t2 + t3 + t4)) AS cx,
          |  ((y + y) * t1 + (y + (y + h)) * t2
          |    + ((y + h) + (y + h)) * t3 + ((y + h) + y) * t4)
          |    / (3 * (t1 + t2 + t3 + t4)) AS cy,
          |  w + h + w AS path_len
          |FROM t ORDER BY c_custkey""".stripMargin,

      "qi6_bing_tiles" ->
        """WITH base AS (
          |  SELECT c_custkey AS id,
          |    ((c_custkey * 7919) % 1600) / 10.0 - 80.0 AS lat,
          |    ((c_custkey * 104729) % 3600) / 10.0 - 180.0 AS lon,
          |    CAST(4 + c_custkey % 12 AS INT) AS z
          |  FROM customer WHERE c_custkey <= 20
          |  UNION ALL
          |  SELECT * FROM (VALUES
          |    (CAST(1001 AS BIGINT), 85.05112878, -180.0, CAST(4 AS INT)),
          |    (1002, -85.05112878, 179.9999, 4),
          |    (1003, 0.0, 0.0, 1),
          |    (1004, 47.6097, -122.3331, 23)) AS v(id, lat, lon, z)),
          |t AS (SELECT id, lat, lon, z,
          |    ((CAST(256 AS BIGINT) << z)) AS ms,
          |    ((1 << z) - 1) AS mt
          |  FROM base),
          |u AS (SELECT id, z, ms, mt,
          |    CAST(floor(least(greatest(((lon + 180) / 360) * ms, 0),
          |      ms - 1) / 256) AS INT) AS tx,
          |    CAST(floor(least(greatest(
          |      (0.5 - ln((1 + sin(lat * pi() / 180)) /
          |                (1 - sin(lat * pi() / 180))) / (4 * pi())) * ms,
          |      0), ms - 1) / 256) AS INT) AS ty
          |  FROM t),
          |a AS (SELECT id, z, tx, ty, mt,
          |    greatest(tx - 1, 0) AS xa, least(tx + 1, mt) AS xb,
          |    greatest(ty - 1, 0) AS ya, least(ty + 1, mt) AS yb
          |  FROM u)
          |SELECT id, tx, ty, z AS zl,
          |  array_to_string([CAST(((tx >> (z - i)) & 1) +
          |    2 * ((ty >> (z - i)) & 1) AS VARCHAR)
          |    for i in range(1, z + 1)], '') AS qk,
          |  true AS rt_ok, true AS ctor_ok,
          |  CAST((xb - xa + 1) * (yb - ya + 1) AS INT) AS n_around,
          |  CAST((yb - ya + 1) * (((xa + xb) * (xb - xa + 1)) // 2) +
          |       (xb - xa + 1) * (((ya + yb) * (yb - ya + 1)) // 2)
          |    AS INT) AS around_sum,
          |  round(360 * (CAST(tx AS DOUBLE) / (1::BIGINT << z) - 0.5), 9)
          |    AS min_lon,
          |  round(90 - 360 * atan(exp(-(0.5 - CAST(ty + 1 AS DOUBLE) /
          |    (1::BIGINT << z)) * 2 * pi())) / pi(), 9) AS min_lat,
          |  round(360 * (CAST(tx + 1 AS DOUBLE) / (1::BIGINT << z) - 0.5), 9)
          |    AS max_lon,
          |  round(90 - 360 * atan(exp(-(0.5 - CAST(ty AS DOUBLE) /
          |    (1::BIGINT << z)) * 2 * pi())) / pi(), 9) AS max_lat
          |FROM a ORDER BY id""".stripMargin,

      "qe2_geofence" ->
        s"""WITH t AS (SELECT c_mktsegment, $xC AS x, $yC AS y FROM customer)
           |SELECT c_mktsegment, count(*) AS n_total,
           |  CAST(sum(CASE WHEN ${SpatialJoin.containsConvexSql(Fence, "x", "y")}
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
           |FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      // WKT parse + accessors replayed with DuckDB list ops; containment
      // replayed as edge-crossing parity over the unnested L-shape ring.
      "ql2_geometry_linestring" ->
        """WITH raw AS (SELECT * FROM (VALUES
          |    (1, 'LINESTRING (0 0, 3 4, 6 8)', 1.0, 1.0),
          |    (2, 'LINESTRING (2 2, 2 6, 5 6, 2 2)', 3.0, 3.0),
          |    (3, 'LINESTRING (0 0, 10 0)', 3.0, 1.0),
          |    (4, 'LINESTRING (1 1, 2 2)', 5.0, 5.0),
          |    (5, 'LINESTRING (-1 -1, -2 -3, 4 0)', 1.0, 3.0))
          |    t(id, wkt, px, py)),
          |ls AS (SELECT id, px, py,
          |    list_transform(
          |      string_split(regexp_extract(wkt,
          |        'LINESTRING\s*\((.+)\)', 1), ','),
          |      s -> struct_pack(
          |        x := CAST(string_split(trim(s), ' ')[1] AS DOUBLE),
          |        y := CAST(string_split(trim(s), ' ')[2] AS DOUBLE)))
          |      AS line
          |  FROM raw),
          |poly AS (SELECT * FROM (VALUES (1, 0.0, 0.0), (2, 4.0, 0.0),
          |    (3, 4.0, 2.0), (4, 2.0, 2.0), (5, 2.0, 4.0), (6, 0.0, 4.0))
          |    e(i, x, y)),
          |edges AS (SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj
          |  FROM poly a JOIN poly b ON b.i = a.i % 6 + 1),
          |inside AS (SELECT r.id,
          |    (count(*) FILTER (WHERE ((yi > py) <> (yj > py))
          |      AND (px < (xj - xi) * (py - yi) / (yj - yi) + xi))) % 2 = 1
          |      AS ins
          |  FROM raw r CROSS JOIN edges GROUP BY r.id, px, py)
          |SELECT CAST(ls.id AS BIGINT) AS id,
          |  CAST(len(line) AS BIGINT) AS n_pts,
          |  line[2].x AS p2x,
          |  TRUE AS oob_null,
          |  line[1].x AS sx, line[len(line)].y AS ey,
          |  len(line) >= 2 AND line[1].x = line[len(line)].x
          |    AND line[1].y = line[len(line)].y AS closed,
          |  len(line) = 0 AS empty,
          |  list_min(list_transform(line, p -> p.x)) AS xmn,
          |  list_max(list_transform(line, p -> p.x)) AS xmx,
          |  list_min(list_transform(line, p -> p.y)) AS ymn,
          |  list_max(list_transform(line, p -> p.y)) AS ymx,
          |  (list_max(list_transform(line, p -> p.x)) -
          |   list_min(list_transform(line, p -> p.x))) *
          |  (list_max(list_transform(line, p -> p.y)) -
          |   list_min(list_transform(line, p -> p.y))) AS env_area,
          |  list_sum(list_transform(generate_series(2, len(line)),
          |    i -> sqrt((line[i].x - line[i-1].x) * (line[i].x - line[i-1].x)
          |            + (line[i].y - line[i-1].y) * (line[i].y - line[i-1].y))))
          |    AS len,
          |  inside.ins AS in_lshape, inside.ins AS within_lshape
          |FROM ls JOIN inside ON inside.id = ls.id
          |ORDER BY id""".stripMargin,

      // Same WKT parse; segments via lateral generate_series (a 1-point
      // line degenerates to the segment (p, p)); the d1..d4 orientation
      // predicate is the SegmentsIntersect expression, transcribed.
      "ql4_geometry_intersects" ->
        """WITH raw AS (SELECT * FROM (VALUES
          |    (1, 'LINESTRING (0 0, 4 4)', 'LINESTRING (0 4, 4 0)'),
          |    (2, 'LINESTRING (0 0, 2 2)', 'LINESTRING (2 2, 5 1)'),
          |    (3, 'LINESTRING (0 0, 4 0)', 'LINESTRING (2 0, 6 0)'),
          |    (4, 'LINESTRING (0 0, 1 0)', 'LINESTRING (2 0, 3 0)'),
          |    (5, 'LINESTRING (0 0, 4 0)', 'LINESTRING (0 1, 4 1)'),
          |    (6, 'LINESTRING (2 0)', 'LINESTRING (0 0, 4 0)'),
          |    (7, 'LINESTRING (2 1)', 'LINESTRING (0 0, 4 0)'),
          |    (8, 'LINESTRING (0 0, 1 0, 1 3)', 'LINESTRING (0 2, 5 2)'))
          |    t(id, aw, bw)),
          |pl AS (SELECT id,
          |    list_transform(string_split(
          |      regexp_extract(aw, 'LINESTRING\s*\((.+)\)', 1), ','),
          |      s -> struct_pack(
          |        x := CAST(string_split(trim(s), ' ')[1] AS DOUBLE),
          |        y := CAST(string_split(trim(s), ' ')[2] AS DOUBLE))) AS la,
          |    list_transform(string_split(
          |      regexp_extract(bw, 'LINESTRING\s*\((.+)\)', 1), ','),
          |      s -> struct_pack(
          |        x := CAST(string_split(trim(s), ' ')[1] AS DOUBLE),
          |        y := CAST(string_split(trim(s), ' ')[2] AS DOUBLE))) AS lb
          |  FROM raw),
          |sa AS (SELECT id, la[i] AS p1, la[LEAST(i + 1, len(la))] AS p2
          |  FROM pl, UNNEST(generate_series(1, GREATEST(1, len(la) - 1)))
          |    g(i)),
          |sb AS (SELECT id, lb[i] AS q1, lb[LEAST(i + 1, len(lb))] AS q2
          |  FROM pl, UNNEST(generate_series(1, GREATEST(1, len(lb) - 1)))
          |    g(i)),
          |pairs AS (
          |  SELECT sa.id,
          |    (q2.x - q1.x) * (p1.y - q1.y) - (q2.y - q1.y) * (p1.x - q1.x)
          |      AS d1,
          |    (q2.x - q1.x) * (p2.y - q1.y) - (q2.y - q1.y) * (p2.x - q1.x)
          |      AS d2,
          |    (p2.x - p1.x) * (q1.y - p1.y) - (p2.y - p1.y) * (q1.x - p1.x)
          |      AS d3,
          |    (p2.x - p1.x) * (q2.y - p1.y) - (p2.y - p1.y) * (q2.x - p1.x)
          |      AS d4,
          |    p1, p2, q1, q2
          |  FROM sa JOIN sb ON sa.id = sb.id),
          |hit AS (
          |  SELECT id, bool_or(
          |    (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0)) AND
          |     ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
          |    OR (d1 = 0 AND p1.x BETWEEN LEAST(q1.x, q2.x) AND GREATEST(q1.x, q2.x)
          |        AND p1.y BETWEEN LEAST(q1.y, q2.y) AND GREATEST(q1.y, q2.y))
          |    OR (d2 = 0 AND p2.x BETWEEN LEAST(q1.x, q2.x) AND GREATEST(q1.x, q2.x)
          |        AND p2.y BETWEEN LEAST(q1.y, q2.y) AND GREATEST(q1.y, q2.y))
          |    OR (d3 = 0 AND q1.x BETWEEN LEAST(p1.x, p2.x) AND GREATEST(p1.x, p2.x)
          |        AND q1.y BETWEEN LEAST(p1.y, p2.y) AND GREATEST(p1.y, p2.y))
          |    OR (d4 = 0 AND q2.x BETWEEN LEAST(p1.x, p2.x) AND GREATEST(p1.x, p2.x)
          |        AND q2.y BETWEEN LEAST(p1.y, p2.y) AND GREATEST(p1.y, p2.y)))
          |    AS hits
          |  FROM pairs GROUP BY id)
          |SELECT CAST(id AS BIGINT) AS id, hits, NOT hits AS apart
          |FROM hit ORDER BY id""".stripMargin,

      // Projection/argmin + cumulative-length walk, transcribed from
      // LineLocatePoint/LineInterpolatePoint (no zero-length segments in
      // the fixture rows, so the degenerate guards are not replayed).
      "ql5_line_reference" ->
        """WITH raw AS (SELECT * FROM (VALUES
          |    (1, 'LINESTRING (0 0, 10 0)', 3.0, 4.0, 0.25),
          |    (2, 'LINESTRING (0 0, 3 4, 6 8)', 3.0, 4.0, 0.5),
          |    (3, 'LINESTRING (0 0, 4 0, 4 3)', 5.0, 1.0, 1.0),
          |    (4, 'LINESTRING (0 0, 4 0, 4 3)', -2.0, -2.0, 0.0),
          |    (5, 'LINESTRING (1 1, 9 1)', 5.0, 5.0, 0.875))
          |    t(id, w, px, py, f)),
          |pl AS (SELECT id, px, py, f,
          |    list_transform(string_split(
          |      regexp_extract(w, 'LINESTRING\s*\((.+)\)', 1), ','),
          |      s -> struct_pack(
          |        x := CAST(string_split(trim(s), ' ')[1] AS DOUBLE),
          |        y := CAST(string_split(trim(s), ' ')[2] AS DOUBLE))) AS la
          |  FROM raw),
          |segs AS (SELECT id, px, py, f, i,
          |    la[i].x AS ax, la[i].y AS ay,
          |    la[i + 1].x - la[i].x AS dx, la[i + 1].y - la[i].y AS dy
          |  FROM pl, UNNEST(generate_series(1, len(la) - 1)) g(i)),
          |m AS (SELECT id, px, py, f, i, ax, ay, dx, dy,
          |    sqrt(dx * dx + dy * dy) AS seglen,
          |    GREATEST(0, LEAST(1,
          |      ((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy)))
          |      AS t
          |  FROM segs),
          |w2 AS (SELECT id, px, py, f, i, ax, ay, dx, dy, seglen, t,
          |    (px - (ax + t * dx)) * (px - (ax + t * dx)) +
          |    (py - (ay + t * dy)) * (py - (ay + t * dy)) AS d2,
          |    coalesce(sum(seglen) OVER (PARTITION BY id ORDER BY i
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before,
          |    sum(seglen) OVER (PARTITION BY id) AS total
          |  FROM m),
          |loc AS (SELECT id, (before + t * seglen) / total AS frac
          |  FROM (SELECT *, row_number() OVER (PARTITION BY id
          |      ORDER BY d2, i) AS rn FROM w2)
          |  WHERE rn = 1),
          |interp AS (SELECT id,
          |    ax + ((f * total - before) / seglen) * dx AS ix,
          |    ay + ((f * total - before) / seglen) * dy AS iy
          |  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY i)
          |      AS rn FROM w2 WHERE before + seglen >= f * total)
          |  WHERE rn = 1)
          |SELECT CAST(raw.id AS BIGINT) AS id, loc.frac, interp.ix, interp.iy
          |FROM raw JOIN loc ON loc.id = raw.id
          |JOIN interp ON interp.id = raw.id
          |ORDER BY id""".stripMargin,

      // Hand-derived Douglas-Peucker results (perpendicular distances
      // worked in the query comment) + envelope arithmetic.
      "ql6_geometry_simplify" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2.0 AS DOUBLE),
          |   CAST(0.0 AS DOUBLE), CAST(2.0 AS DOUBLE),
          |   2, CAST(0 AS BIGINT), CAST(-1.5 AS DOUBLE), CAST(1.6 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(2.0 AS DOUBLE),
          |   CAST(2.0 AS DOUBLE), CAST(4.0 AS DOUBLE),
          |   2, CAST(0 AS BIGINT), CAST(-1.5 AS DOUBLE), CAST(3.5 AS DOUBLE)),
          |  (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(2.0 AS DOUBLE),
          |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE),
          |   2, CAST(0 AS BIGINT), CAST(-1.5 AS DOUBLE), CAST(2.5 AS DOUBLE)),
          |  (CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE),
          |   CAST(0.1 AS DOUBLE), CAST(2.0 AS DOUBLE),
          |   2, CAST(0 AS BIGINT), CAST(-1.5 AS DOUBLE), CAST(1.6 AS DOUBLE)))
          |  AS t(id, n_simp, x2, y2, xe, cdim, n_holes, exmn, eymx)
          |ORDER BY id""".stripMargin,

      // Hull = the 10 parabola points in canonical order for every
      // group (interior points planted strictly under the chord);
      // shoelace area replayed arithmetically: Σ_{t<9} t(t+1) / 2.
      "qm3_convex_hull" ->
        """WITH g AS (SELECT DISTINCT cast((c_custkey // 10) % 4 as bigint)
          |    AS g FROM customer),
          |area AS (SELECT cast(sum(t * t + t) as double) / 2.0 AS a
          |  FROM generate_series(0, 8) AS s(t)),
          |txt AS (SELECT string_agg(
          |    cast(t as varchar) || ':' || cast(t * t as varchar),
          |    ',' ORDER BY t) AS h
          |  FROM generate_series(0, 9) AS s(t))
          |SELECT g.g, cast(10 as bigint) AS n_hull, txt.h AS hull_txt,
          |  round(area.a, 4) AS hull_area
          |FROM g CROSS JOIN area CROSS JOIN txt ORDER BY g""".stripMargin,

      // Hand-derived clip shapes: the hypotenuse x+y=15 cuts the square
      // at (10,5) and (5,10); disjoint is empty; contained is identity.
      "qm4_convex_clip" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(5 AS BIGINT),
          |   '0:0,10:0,10:5,5:10,0:10', CAST(87.5 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), '', CAST(0.0 AS DOUBLE)),
          |  (CAST(3 AS BIGINT), CAST(4 AS BIGINT), '2:2,4:2,4:4,2:4',
          |   CAST(4.0 AS DOUBLE)))
          |  AS t(id, n_clip, clip_txt, clip_area)
          |ORDER BY id""".stripMargin,

      // Term-for-term replay of the orientation-sign relate logic
      // (GeomAlgebra.SegmentRelation): d1..d4 cross products are exact
      // in double on integer coordinates, so every sign agrees.
      "qm5_segment_relations" ->
        """WITH seg AS (SELECT c_custkey AS k,
          |    cast(c_custkey % 13 as double) AS x1,
          |    cast(c_custkey * 3 % 11 as double) AS y1,
          |    cast(c_custkey * 5 % 13 as double) AS x2,
          |    cast(c_custkey * 7 % 11 as double) AS y2,
          |    cast(c_custkey * 2 % 13 as double) AS x3,
          |    cast(c_custkey * 9 % 11 as double) AS y3,
          |    cast(c_custkey * 4 % 13 as double) AS x4,
          |    cast(c_custkey * 6 % 11 as double) AS y4
          |  FROM customer WHERE c_custkey <= 500),
          |ok AS (SELECT * FROM seg
          |  WHERE NOT (x1 = x2 AND y1 = y2) AND NOT (x3 = x4 AND y3 = y4)),
          |d AS (SELECT *,
          |    (x4 - x3) * (y1 - y3) - (y4 - y3) * (x1 - x3) AS d1,
          |    (x4 - x3) * (y2 - y3) - (y4 - y3) * (x2 - x3) AS d2,
          |    (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1) AS d3,
          |    (x2 - x1) * (y4 - y1) - (y2 - y1) * (x4 - x1) AS d4
          |  FROM ok),
          |e AS (SELECT k,
          |    ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0)) AND
          |    ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)) AS proper,
          |    (d1 = 0 AND d2 = 0 AND d3 = 0 AND d4 = 0) AS coll,
          |    CASE WHEN abs(x2 - x1) >= abs(y2 - y1)
          |         THEN least(x1, x2) ELSE least(y1, y2) END AS alo,
          |    CASE WHEN abs(x2 - x1) >= abs(y2 - y1)
          |         THEN greatest(x1, x2) ELSE greatest(y1, y2) END AS ahi,
          |    CASE WHEN abs(x2 - x1) >= abs(y2 - y1)
          |         THEN least(x3, x4) ELSE least(y3, y4) END AS blo,
          |    CASE WHEN abs(x2 - x1) >= abs(y2 - y1)
          |         THEN greatest(x3, x4) ELSE greatest(y3, y4) END AS bhi,
          |    (d1 = 0 AND x1 BETWEEN least(x3, x4) AND greatest(x3, x4)
          |       AND y1 BETWEEN least(y3, y4) AND greatest(y3, y4)) AS o1,
          |    (d2 = 0 AND x2 BETWEEN least(x3, x4) AND greatest(x3, x4)
          |       AND y2 BETWEEN least(y3, y4) AND greatest(y3, y4)) AS o2,
          |    (d3 = 0 AND x3 BETWEEN least(x1, x2) AND greatest(x1, x2)
          |       AND y3 BETWEEN least(y1, y2) AND greatest(y1, y2)) AS o3,
          |    (d4 = 0 AND x4 BETWEEN least(x1, x2) AND greatest(x1, x2)
          |       AND y4 BETWEEN least(y1, y2) AND greatest(y1, y2)) AS o4
          |  FROM d),
          |f AS (SELECT k % 5 AS bucket, proper AS cr,
          |    (proper OR o1 OR o2 OR o3 OR o4) AS ix,
          |    ((proper OR o1 OR o2 OR o3 OR o4) AND NOT proper AND
          |     NOT (coll AND least(ahi, bhi) - greatest(alo, blo) > 0)) AS tc,
          |    (coll AND least(ahi, bhi) - greatest(alo, blo) > 0 AND
          |     NOT (alo <= blo AND bhi <= ahi) AND
          |     NOT (blo <= alo AND ahi <= bhi)) AS ov
          |  FROM e)
          |SELECT cast(bucket as bigint) AS bucket,
          |  cast(count(*) as bigint) AS n,
          |  cast(sum(CASE WHEN cr THEN 1 ELSE 0 END) as bigint) AS n_crosses,
          |  cast(sum(CASE WHEN tc THEN 1 ELSE 0 END) as bigint) AS n_touches,
          |  cast(sum(CASE WHEN ov THEN 1 ELSE 0 END) as bigint) AS n_overlaps,
          |  cast(sum(CASE WHEN ix THEN 1 ELSE 0 END) as bigint)
          |    AS n_intersects
          |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,

      // Hand-derived boolean-algebra multipolygons: octagon union
      // (100+100−25), L-shape difference, two-L symdifference; the
      // disjoint row keeps both inputs.
      "ql8_degenerate_boolean" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(200.0 AS DOUBLE),
          |   CAST(0.0 AS DOUBLE), CAST(100.0 AS DOUBLE),
          |   CAST(200.0 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(108.0 AS DOUBLE),
          |   CAST(0.0 AS DOUBLE), CAST(100.0 AS DOUBLE),
          |   CAST(108.0 AS DOUBLE)),
          |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(3.0 AS DOUBLE),
          |   CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)))
          |  AS t(id, n_union, union_area, int_area, diff_area, sym_area)
          |ORDER BY id""".stripMargin,

      "qm7_polygon_boolean" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(175.0 AS DOUBLE),
          |   '0:0,10:0,10:5,15:5,15:15,5:15,5:10,0:10',
          |   CAST(1 AS BIGINT), CAST(75.0 AS DOUBLE), CAST(2 AS BIGINT),
          |   CAST(150.0 AS DOUBLE),
          |   CAST(1 AS BIGINT)),
          |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(200.0 AS DOUBLE),
          |   '0:0,10:0,10:10,0:10',
          |   CAST(1 AS BIGINT), CAST(100.0 AS DOUBLE), CAST(2 AS BIGINT),
          |   CAST(200.0 AS DOUBLE),
          |   CAST(2 AS BIGINT)))
          |  AS t(id, n_union, union_area, u1_txt, n_diff, diff_area,
          |       n_sym, sym_area, n_gu)
          |ORDER BY id""".stripMargin,

      // Hand-derived holed-boolean outcomes (see the q0x def comment):
      // donut union = exterior + 100-area hole, net 750; U−cap = 650,
      // cap−U = 50 (sym 700); contained-B row: union = A alone,
      // sym/difference = [A, reversed B] = 1200.
      // Hand-derived: row 1 bar-through-hole (union 106/2 rings, diff
      // 78, sym 88); row 2 island-in-hole (union 68/3 rings, diff = A
      // = 64, sym 64 + 4); row 3 nested-hole cancellation (union 396/2,
      // diff 300, sym 300 + 12).
      "q1g_holed_inputs" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(106.0 AS DOUBLE),
          |   CAST(2 AS BIGINT), CAST(78.0 AS DOUBLE), CAST(88.0 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(68.0 AS DOUBLE),
          |   CAST(3 AS BIGINT), CAST(64.0 AS DOUBLE), CAST(68.0 AS DOUBLE)),
          |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(396.0 AS DOUBLE),
          |   CAST(2 AS BIGINT), CAST(300.0 AS DOUBLE), CAST(312.0 AS DOUBLE)))
          |  AS t(id, n_in, u_area, n_u, d_area, sd_area)
          |ORDER BY id""".stripMargin,

      "q0x_holed_boolean" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(750.0 AS DOUBLE),
          |   CAST(100.0 AS DOUBLE),
          |   CAST(2 AS BIGINT), CAST(700.0 AS DOUBLE), CAST(1 AS BIGINT),
          |   CAST(650.0 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1600.0 AS DOUBLE),
          |   CAST(1600.0 AS DOUBLE),
          |   CAST(2 AS BIGINT), CAST(1200.0 AS DOUBLE), CAST(2 AS BIGINT),
          |   CAST(1200.0 AS DOUBLE)))
          |  AS t(id, n_u, u_area, last_ring_area, n_sd, sd_area, n_d,
          |       d_area)
          |ORDER BY id""".stripMargin,

      // Inclusion-exclusion replay: every group's 5-square chain fuses
      // to one component of area 5·100 − 4·19 = 424 (duplicate squares
      // within a group fold idempotently).
      "qm8_geometry_union_agg" ->
        """SELECT cast(g as bigint) AS g, cast(1 as bigint) AS n_comp,
          |  CAST(424.0 AS DOUBLE) AS total_area
          |FROM (SELECT DISTINCT c_custkey % 3 AS g FROM customer) t
          |ORDER BY g""".stripMargin,

      // Hand-derived DE-9IM outcomes per relationship class.
      "qm9_relate" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), true, false, false, true, false),
          |  (CAST(2 AS BIGINT), false, true, false, false, true),
          |  (CAST(3 AS BIGINT), false, false, true, false, false))
          |  AS t(id, is_overlap, is_contains, is_disjoint, t_overlap,
          |       b_within_a)
          |ORDER BY id""".stripMargin,

      // Hand-derived structural answers (geometry fixtures are VALUES
      // literals in the query).
      // Hand-computed: area 100-9-4, centroid (100*5-9*3.5-4*7)/87 =
      // 440.5/87, WKB = 1+4+4 header + 3 rings x (4 + 5 pts x 16) = 261.
      "qn5_holed_polygon" ->
        """SELECT CAST(1 AS BIGINT) AS id, CAST(87.0 AS DOUBLE) AS area,
          |  CAST(5.063218 AS DOUBLE) AS cx, CAST(5.063218 AS DOUBLE) AS cy,
          |  true AS in_solid, false AS in_hole, true AS between_holes,
          |  false AS in_hole2, false AS outside, true AS wkb_rt,
          |  CAST(261 AS BIGINT) AS wkb_len""".stripMargin,

      // 100 − 9 = 91 over 2 rings; the half-slab leaves the right
      // 5x10 = 50 in one ring; disjoint leaves 100; a swallowed
      // subject has no rings; the splitting bar (x in [4,6]) leaves a
      // 4x10 piece on each side — a 2-component multipolygon (r7).
      "qr0_holed_difference" ->
        """SELECT CAST(1 AS BIGINT) AS id, CAST(91.0 AS DOUBLE) AS holed_area,
          |  CAST(2 AS BIGINT) AS holed_rings,
          |  false AS centre_in_hole, true AS corner_solid,
          |  true AS wkb_rt, CAST(50.0 AS DOUBLE) AS crossed_area,
          |  CAST(1 AS BIGINT) AS crossed_rings,
          |  CAST(100.0 AS DOUBLE) AS disjoint_area,
          |  CAST(0 AS BIGINT) AS swallowed_rings,
          |  CAST(2 AS BIGINT) AS split_rings,
          |  CAST(40.0 AS DOUBLE) AS split_area_lo,
          |   CAST(40.0 AS DOUBLE) AS split_area_hi""".stripMargin,

      "qm6_geometry_structure" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), 'ST_Polygon', 'ST_LineString',
          |   CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT),
          |   'POINT (2.0 2.0)', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
          |   true, true, CAST(6.0 AS DOUBLE), true, CAST(32 AS BIGINT)),
          |  (CAST(2 AS BIGINT), 'ST_Polygon', 'ST_LineString',
          |   CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
          |   'POINT (3.0 1.0)', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
          |   true, true, CAST(16.0 AS DOUBLE), true, CAST(32 AS BIGINT)))
          |  AS t(id, ptype, ltype, pdim, ldim, npts, second_pt, nbound,
          |       nint, ring_ok, valid_ok, parea, wkb_rt, nbuf)
          |ORDER BY id""".stripMargin
    )
  }
}
