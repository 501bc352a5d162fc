package graft.queries

import graft.functions.Registry
import graft.queries.QueryPack.withCte

/** The remaining 16 TPC-H query texts (Q2,4,7,8,9,11-13,15-22) through the
  * Presto SQL surface, completing the 22/22 suite together with Q1/Q6
  * (`RegistrySql.qb5/qb6`) and Q3/Q5/Q10/Q14 (`qe5-qe8`).
  *
  * Texts are letter-for-letter the reference benchmark's shapes
  * (`presto-benchto-benchmarks` runs the same 22 statements; grammar surface
  * `presto-parser/.../SqlBase.g4`) — implicit-join FROM lists, correlated
  * scalar/EXISTS/IN subqueries, HAVING over subquery, CREATE VIEW (Q15),
  * date ± interval arithmetic — adapted ONLY where the slim fixture forces
  * it (see each query's note):
  *
  *  - `partsupp` is derived deterministically in `Tables.register` (the
  *    fixture omits it) and replayed by each oracle as the same CTE;
  *  - columns the fixture lacks (p_mfgr/p_container, c_phone,
  *    l_commitdate/l_receiptdate/l_shipmode, *_comment/address) get the
  *    nearest fixture analog, keeping the operator shape intact;
  *  - date windows sit inside the fixture's 1995-2001 span, nation/region
  *    names use the fixture's vocabulary.
  *
  * Every query here and its oracle run the SAME text, written once in
  * `texts`; DuckDB gets the partsupp CTE wherever a text reads partsupp.
  * Five keep a second, DuckDB-spelled oracle text: Q7/Q8/Q9 cast
  * `extract(year ...)` to INT to match Spark's 32-bit YEAR, Q12 casts its
  * integer sums to BIGINT, and Q15's view becomes a WITH for DuckDB's
  * single-statement gate while the engine exercises real CREATE VIEW.
  */
object TpchSql extends QueryPack {

  private def sql(s: org.apache.spark.sql.SparkSession, q: String) =
    s.sql(Registry.rewritePrestoSql(q))

  /** Oracle-side replay of the derived partsupp view (Tables.register). */
  private val psCte =
    """partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |    ((p_partkey + i * GREATEST(1, s_cnt // 4)) % s_cnt) + 1
      |      AS ps_suppkey,
      |    (p_partkey * 7 + i * 11) % 9999 + 1 AS ps_availqty,
      |    CAST((p_partkey * 31 + i * 17) % 10000 AS DOUBLE) / 100.0 + 1.0
      |      AS ps_supplycost
      |  FROM part, (SELECT unnest([0,1,2,3]) AS i) gen,
      |    (SELECT count(*) AS s_cnt FROM supplier) sc)""".stripMargin

  /** Gates whose oracle is the same query: Spark runs the text as it
    * is, DuckDB runs it after `psCte` when it reads partsupp. */
  private val texts: Map[String, String] = Map(
    // Q2 minimum-cost supplier: correlated scalar MIN subquery repeating
    // the outer join tree. p_brand stands in for the absent p_mfgr;
    // s_address/s_phone/s_comment dropped from the slim fixture's SELECT.
    "qf4_tpch_q2_sql" ->
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM part, supplier, partsupp, nation, region
        |WHERE p_partkey = ps_partkey
        |  AND s_suppkey = ps_suppkey
        |  AND p_size = 15
        |  AND p_type LIKE '%M%'
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps_supplycost)
        |    FROM partsupp, supplier, nation, region
        |    WHERE p_partkey = ps_partkey
        |      AND s_suppkey = ps_suppkey
        |      AND s_nationkey = n_nationkey
        |      AND n_regionkey = r_regionkey
        |      AND r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // Q4 order-priority checking: correlated EXISTS. The fixture has no
    // l_commitdate/l_receiptdate; "late line" = shipped >90 days after the
    // order date (same correlated-predicate shape).
    "qf5_tpch_q4_sql" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= date '1997-07-01'
        |  AND o_orderdate < date '1997-07-01' + interval '3' month
        |  AND EXISTS (
        |    SELECT * FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + interval '90' day)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Q11 important stock: HAVING against an uncorrelated scalar subquery
    // that repeats the aggregation. Verbatim shape.
    "qf9_tpch_q11_sql" ->
      """SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
        |FROM partsupp, supplier, nation
        |WHERE ps_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY ps_partkey
        |HAVING sum(ps_supplycost * ps_availqty) > (
        |  SELECT sum(ps_supplycost * ps_availqty) * 0.0001
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey
        |    AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3')
        |ORDER BY value DESC""".stripMargin,

    // Q13 customer order-count distribution: LEFT JOIN with an extra ON
    // predicate, double aggregation. o_orderpriority filter stands in for
    // the absent o_comment NOT LIKE.
    "qg1_tpch_q13_sql" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey
        |    AND o_orderpriority NOT LIKE '%SPECIFIED%'
        |  GROUP BY c_custkey
        |) AS c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Q16 parts/supplier relationship: NOT IN subquery + count(DISTINCT).
    // s_acctbal < 0 stands in for the absent s_comment complaint filter;
    // p_type prefix uses the fixture vocabulary.
    "qg3_tpch_q16_sql" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#45'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q17 small-quantity-order revenue: correlated AVG subquery on the
    // probe side. p_size = 7 stands in for the absent p_container.
    "qg4_tpch_q17_sql" ->
      """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#23'
        |  AND p_size = 7
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l_quantity)
        |    FROM lineitem
        |    WHERE l_partkey = p_partkey)""".stripMargin,

    // Q18 large-volume customers: IN over a HAVING subquery, 6-column
    // GROUP BY. Verbatim (o_orderkey added to ORDER BY for a
    // deterministic LIMIT cut on tied totalprice).
    "qg5_tpch_q18_sql" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum(l_quantity) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    // Q19 discounted revenue: disjunction of conjunctive join blocks —
    // the classic OR-of-ANDs plan-shape test (Presto runs it as a nested
    // loop with a compiled predicate; so does Spark, with the 2k-row part
    // side broadcast). p_container/l_shipmode blocks use p_size/l_quantity
    // ranges the fixture supports.
    "qg6_tpch_q19_sql" ->
      """SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem, part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
        |    AND p_size BETWEEN 1 AND 5
        |    AND l_quantity >= 1 AND l_quantity <= 11)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
        |    AND p_size BETWEEN 1 AND 10
        |    AND l_quantity >= 10 AND l_quantity <= 20)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#34'
        |    AND p_size BETWEEN 1 AND 15
        |    AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,

    // Q20 potential part promotion: IN → IN → correlated scalar SUM,
    // three levels deep. p_name prefix uses the fixture's colors;
    // s_address dropped.
    "qg7_tpch_q20_sql" ->
      """SELECT s_name
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT 0.5 * sum(l_quantity)
        |        FROM lineitem
        |        WHERE l_partkey = ps_partkey
        |          AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= date '1996-01-01'
        |          AND l_shipdate < date '1996-01-01' + interval '1' year))
        |  AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |ORDER BY s_name""".stripMargin,

    // Q21 suppliers who kept orders waiting: EXISTS + NOT EXISTS against
    // the same table with <> correlation. l_returnflag = 'R' stands in
    // for the absent l_receiptdate > l_commitdate lateness test.
    "qg8_tpch_q21_sql" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT * FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT * FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_8'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    // Q22 global sales opportunity: substring-derived country code (from
    // c_name — the fixture has no c_phone), uncorrelated AVG threshold,
    // NOT EXISTS anti-join ("no orders since 1999" — every fixture
    // customer has at least one order ever).
    "qg9_tpch_q22_sql" ->
      """SELECT cntrycode, count(*) AS numcust, sum(c_acctbal) AS totacctbal
        |FROM (
        |  SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE substring(c_name, 17, 2) IN
        |      ('13', '31', '23', '29', '30', '18', '17')
        |    AND c_acctbal > (
        |      SELECT avg(c_acctbal) FROM customer
        |      WHERE c_acctbal > 0.00
        |        AND substring(c_name, 17, 2) IN
        |          ('13', '31', '23', '29', '30', '18', '17'))
        |    AND NOT EXISTS (
        |      SELECT * FROM orders
        |      WHERE o_custkey = c_custkey
        |        AND o_orderdate >= date '2001-01-01')
        |) AS custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin
  )

  override def defs: Map[String, Q] =
    texts.transform[Q]((_, q) => (s, dir) => sql(s, q)) ++ Map[String, Q](
    // Q7 volume shipping: bidirectional nation pair over a 6-table
    // implicit join, year extraction, derived-table GROUP BY. Verbatim
    // but for the fixture's nation vocabulary.
    "qf6_tpch_q7_sql" -> ((s, dir) => sql(s,
      """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    extract(year FROM l_shipdate) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey
        |    AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate BETWEEN date '1996-01-01' AND date '1997-12-31'
        |) AS shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // Q8 national market share: 8-table implicit join, conditional
    // aggregation ratio. p_type uses the fixture's single-word vocabulary.
    "qf7_tpch_q8_sql" -> ((s, dir) => sql(s,
      """SELECT o_year,
        |  sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |    / sum(volume) AS mkt_share
        |FROM (
        |  SELECT extract(year FROM o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey
        |    AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'AMERICA'
        |    AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate BETWEEN date '1996-01-01' AND date '1997-12-31'
        |    AND p_type = 'ECONOMY'
        |) AS all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)),

    // Q9 product-type profit: partsupp cost joined on BOTH lineitem keys,
    // p_name LIKE over the fixture's color vocabulary ('%red%' for
    // '%green%').
    "qf8_tpch_q9_sql" -> ((s, dir) => sql(s,
      """SELECT nation, o_year, sum(amount) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    extract(year FROM o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount)
        |      - ps_supplycost * l_quantity AS amount
        |  FROM part, supplier, lineitem, partsupp, orders, nation
        |  WHERE s_suppkey = l_suppkey
        |    AND ps_suppkey = l_suppkey
        |    AND ps_partkey = l_partkey
        |    AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey
        |    AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%'
        |) AS profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // Q12 shipping modes & priority: two-bucket conditional counts. The
    // fixture has no l_shipmode/l_commitdate/l_receiptdate: groups by
    // l_returnflag and defines "late" as shipped >30 days after ordering.
    "qg0_tpch_q12_sql" -> ((s, dir) => sql(s,
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |        OR o_orderpriority = '2-HIGH'
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |        AND o_orderpriority <> '2-HIGH'
        |      THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_returnflag IN ('A', 'R')
        |  AND l_shipdate > o_orderdate + interval '30' day
        |  AND l_shipdate >= date '1996-01-01'
        |  AND l_shipdate < date '1996-01-01' + interval '1' year
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Q15 top supplier: a real CREATE VIEW on the engine side (reference:
    // Q15 is the one TPC-H query that exercises DDL), queried with an
    // uncorrelated MAX subquery. s_address dropped (slim fixture).
    "qg2_tpch_q15_sql" -> ((s, dir) => {
      sql(s,
        """CREATE OR REPLACE TEMPORARY VIEW revenue0 AS
          |SELECT l_suppkey AS supplier_no,
          |  sum(l_extendedprice * (1 - l_discount)) AS total_revenue
          |FROM lineitem
          |WHERE l_shipdate >= date '1996-01-01'
          |  AND l_shipdate < date '1996-01-01' + interval '3' month
          |GROUP BY l_suppkey""".stripMargin)
      s.sql(
        """SELECT s_suppkey, s_name, total_revenue
          |FROM supplier, revenue0
          |WHERE s_suppkey = supplier_no
          |  AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
          |ORDER BY s_suppkey""".stripMargin)
    })
  )

  override def oracles: Map[String, String] = (texts ++ Map(
    "qf6_tpch_q7_sql" ->
      """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey
        |    AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate BETWEEN date '1996-01-01' AND date '1997-12-31'
        |) AS shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "qf7_tpch_q8_sql" ->
      """SELECT o_year,
        |  sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |    / sum(volume) AS mkt_share
        |FROM (
        |  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey
        |    AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'AMERICA'
        |    AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate BETWEEN date '1996-01-01' AND date '1997-12-31'
        |    AND p_type = 'ECONOMY'
        |) AS all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,

    "qf8_tpch_q9_sql" ->
      """SELECT nation, o_year, sum(amount) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1 - l_discount)
        |      - ps_supplycost * l_quantity AS amount
        |  FROM part, supplier, lineitem, partsupp, orders, nation
        |  WHERE s_suppkey = l_suppkey
        |    AND ps_suppkey = l_suppkey
        |    AND ps_partkey = l_partkey
        |    AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey
        |    AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%'
        |) AS profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,

    "qg0_tpch_q12_sql" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |        OR o_orderpriority = '2-HIGH'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |        AND o_orderpriority <> '2-HIGH'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_returnflag IN ('A', 'R')
        |  AND l_shipdate > o_orderdate + interval '30' day
        |  AND l_shipdate >= date '1996-01-01'
        |  AND l_shipdate < date '1996-01-01' + interval '1' year
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "qg2_tpch_q15_sql" ->
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= date '1996-01-01'
        |    AND l_shipdate < date '1996-01-01' + interval '3' month
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, revenue0
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
        |ORDER BY s_suppkey""".stripMargin
  )).transform((_, q) => withPartsupp(q))

  /** DuckDB has no derived partsupp view, so a query that reads it
    * gets its replay. */
  private def withPartsupp(q: String): String =
    if (q.contains("partsupp")) withCte(psCte, q) else q
}
