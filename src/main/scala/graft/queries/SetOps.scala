package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Set operations (UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL]) and
  * grouping-set aggregations (ROLLUP / CUBE / GROUPING SETS).
  *
  * Reference: Presto lowers INTERSECT/EXCEPT to union+count-agg+filter
  * (`presto-main/.../optimizations/ImplementIntersectAndExceptAsUnion.java:110`)
  * and grouping sets replicate rows through GroupIdOperator
  * (`operator/GroupIdOperator.java:32`). Spark's equivalents (Catalyst
  * set-op rewrites and Expand) are used as-is — no custom operators.
  */
object SetOps extends QueryPack {

  private def custIn(s: SparkSession, y0: String, y1: String) =
    s.table("orders")
      .filter(col("o_orderdate") >= lit(y0).cast("timestamp")
        && col("o_orderdate") < lit(y1).cast("timestamp"))
      .select(col("o_custkey"))

  override def defs: Map[String, Q] = Map(
    "q40_union_all" -> ((s, dir) => {
      val c = s.table("customer").select(col("c_nationkey").as("nationkey"))
      val su = s.table("supplier").select(col("s_nationkey").as("nationkey"))
      c.unionAll(su)
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }),

    "q41_union_distinct" -> ((s, dir) => {
      val a = custIn(s, "1995-01-01", "1996-01-01")
      val b = custIn(s, "2000-01-01", "2001-01-01")
      a.union(b).distinct().orderBy(col("o_custkey"))
    }),

    "q42_intersect" -> ((s, dir) =>
      custIn(s, "1995-01-01", "1996-01-01")
        .intersect(custIn(s, "2000-01-01", "2001-01-01"))
        .orderBy(col("o_custkey"))),

    "q43_except" -> ((s, dir) =>
      custIn(s, "1995-01-01", "1996-01-01")
        .except(custIn(s, "2000-01-01", "2001-01-01"))
        .orderBy(col("o_custkey"))),

    // Multiset variants (Presto: UNION/INTERSECT/EXCEPT ALL).
    "q44_intersect_all" -> ((s, dir) =>
      custIn(s, "1995-01-01", "1996-01-01")
        .intersectAll(custIn(s, "1996-01-01", "1997-01-01"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))),

    "q45_except_all" -> ((s, dir) =>
      custIn(s, "1995-01-01", "1997-01-01")
        .exceptAll(custIn(s, "1996-01-01", "1997-01-01"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))),

    // ROLLUP over (year, status): partial totals + grand total.
    "q46_rollup" -> ((s, dir) =>
      s.table("orders")
        .select(year(col("o_orderdate")).cast("long").as("order_year"),
          col("o_orderstatus"), col("o_totalprice"))
        .rollup(col("order_year"), col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("n"),
          grouping(col("order_year")).cast("int").as("g_year"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"))
        .orderBy(col("g_year"), col("g_status"), col("order_year"), col("o_orderstatus"))),

    "q47_cube" -> ((s, dir) =>
      s.table("lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))),

    // Explicit GROUPING SETS via SQL (Presto grammar parity).
    "q48_grouping_sets" -> ((s, dir) => {
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          | round(sum(l_extendedprice), 2) AS total,
          | count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)
    }),

    // Grand-total row over an EMPTY input (SQL spec; ledger item 13,
    // closed r8 by EmptyGroupingSetsGrandTotal): ROLLUP and CUBE over a
    // filter that matches nothing still yield the single () row — count 0,
    // sum NULL, keys NULL, grouping() = 1 — while GROUPING SETS without
    // the () set yields nothing. The non-empty rollup arm proves the
    // rewrite's sentinel row never leaks when rows exist. One SQL text,
    // replayed verbatim by DuckDB (whose Expand-free aggregation follows
    // the spec natively).
    "q0v_empty_rollup" -> ((s, dir) => {
      s.sql(emptyRollupSql)
    })
  )

  private val emptyRollupSql =
    """WITH e AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
      |             CAST(l_quantity AS DOUBLE) AS q
      |           FROM lineitem WHERE l_quantity < 0)
      |SELECT * FROM (
      |  SELECT 'cube_empty' AS src, rf, ls, count(*) AS n,
      |         CAST(sum(q) AS DOUBLE) AS sq,
      |         CAST(grouping(rf) AS INT) AS g1, CAST(grouping(ls) AS INT) AS g2
      |  FROM e GROUP BY CUBE(rf, ls)
      |  UNION ALL
      |  SELECT 'gs_no_total' AS src, rf, ls, count(*) AS n,
      |         CAST(sum(q) AS DOUBLE) AS sq,
      |         CAST(grouping(rf) AS INT) AS g1, CAST(grouping(ls) AS INT) AS g2
      |  FROM e GROUP BY GROUPING SETS ((rf), (rf, ls))
      |  UNION ALL
      |  SELECT 'nonempty' AS src, rf, ls, count(*) AS n,
      |         CAST(sum(q) AS DOUBLE) AS sq,
      |         CAST(grouping(rf) AS INT) AS g1, CAST(grouping(ls) AS INT) AS g2
      |  FROM (SELECT l_returnflag AS rf, l_linestatus AS ls,
      |          CAST(l_quantity AS DOUBLE) AS q FROM lineitem) t
      |  GROUP BY ROLLUP(rf, ls)
      |  UNION ALL
      |  SELECT 'rollup_empty' AS src, rf, ls, count(*) AS n,
      |         CAST(sum(q) AS DOUBLE) AS sq,
      |         CAST(grouping(rf) AS INT) AS g1, CAST(grouping(ls) AS INT) AS g2
      |  FROM e GROUP BY ROLLUP(rf, ls)) u
      |ORDER BY src, g1, g2, rf NULLS LAST, ls NULLS LAST""".stripMargin

  override def oracles: Map[String, String] = Map(
    "q0v_empty_rollup" -> emptyRollupSql,

    "q40_union_all" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q41_union_distinct" ->
      """SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |UNION
        |SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
        |ORDER BY o_custkey""".stripMargin,

    "q42_intersect" ->
      """SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
        |ORDER BY o_custkey""".stripMargin,

    "q43_except" ->
      """SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
        |ORDER BY o_custkey""".stripMargin,

    "q44_intersect_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        | INTERSECT ALL
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01') t
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q45_except_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        | EXCEPT ALL
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01') t
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q46_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
        | round(sum(o_totalprice), 2) AS total, count(*) AS n,
        | CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
        |ORDER BY g_year, g_status, order_year, o_orderstatus""".stripMargin,

    "q47_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS total_qty, count(*) AS n,
        | CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q48_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice), 2) AS total, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin
  )
}
