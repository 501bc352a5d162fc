package graft.queries

import org.apache.spark.sql.functions._

/** Relational core: scans, filters, projections, joins (inner/outer/semi/
  * anti/cross/theta), aggregation, subqueries, distinct, top-N, having.
  *
  * Mirrors the operator surface of PrestoDB's join/agg/scan operators
  * (`presto-main/.../operator/HashAggregationOperator.java:47`,
  * `LookupJoinOperator.java:53`, `HashSemiJoinOperator.java:32`,
  * `NestedLoopJoinOperator.java:36`, `TopNOperator.java:35`) re-expressed as
  * declarative DataFrame plans so Catalyst chooses broadcast vs shuffle,
  * pushes filters into the parquet scan, and keeps everything in
  * whole-stage codegen.
  *
  * Scale design: dimension tables (`region`, `nation`, `supplier`, `part`)
  * are broadcast explicitly; fact-fact joins (`orders` ⋈ `lineitem`) shuffle
  * on the join key, which at 100 TB is the bucketing key you'd pre-bucket
  * both tables by. Aggregations are partial+final (map-side combine) by
  * construction of `groupBy.agg`.
  */
object Relational extends QueryPack {

  override def defs: Map[String, Q] = Map(
    // TPC-H Q1: full-scan aggregation; 6k→600M rows scale path is pure
    // map-side partial agg on 6 grouping values — no skew possible.
    "q01_pricing_summary" -> ((s, dir) => {
      s.table("lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Fused scan+filter+project (reference: ScanFilterAndProjectOperator);
    // predicate + column pruning must reach the parquet reader.
    "q02_scan_filter_project" -> ((s, dir) => {
      s.table("lineitem")
        .filter(col("l_shipdate").between(
          lit("1997-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp"))
          && col("l_quantity") > 45)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
          col("l_returnflag"))
    }),

    // TPC-H Q3: broadcast dim filter + fact-fact shuffle join + topN.
    "q03_shipping_priority" -> ((s, dir) => {
      val cust = s.table("customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = s.table("orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val li = s.table("lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Correlated EXISTS with an inequality — semi join with compound condition.
    "q04_late_shipping" -> ((s, dir) => {
      val ord = s.table("orders")
      val li = s.table("lineitem")
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderstatus"))
    }),

    // TPC-H Q5-style multiway join: two broadcast dims + fact-fact shuffle.
    "q05_nation_revenue" -> ((s, dir) => {
      val li = s.table("lineitem")
      val ord = s.table("orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val supp = s.table("supplier")
      val nat = s.table("nation")
      val reg = s.table("region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // TPC-H Q6: tight scan-agg; every predicate must be a PushedFilter.
    "q06_revenue_forecast" -> ((s, dir) => {
      s.table("lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),

    // TPC-H Q13: left outer join + two-level aggregation.
    "q07_order_count_dist" -> ((s, dir) => {
      val cust = s.table("customer")
      val ord = s.table("orders")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Anti join: customers with no recent orders.
    "q08_inactive_customers" -> ((s, dir) => {
      val cust = s.table("customer")
      val recent = s.table("orders")
        .filter(col("o_orderdate") > lit("2001-01-01").cast("timestamp"))
      cust.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("c_nationkey"))
    }),

    "q09_distinct" -> ((s, dir) =>
      s.table("lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TopN → TakeOrderedAndProject (reference: TopNOperator.java:35).
    "q10_top_orders" -> ((s, dir) =>
      s.table("orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15)),

    // DistinctLimit (reference: DistinctLimitOperator.java:37).
    "q11_distinct_limit" -> ((s, dir) =>
      s.table("customer")
        .select(col("c_nationkey")).distinct()
        .orderBy(col("c_nationkey")).limit(10)),

    "q12_having" -> ((s, dir) =>
      s.table("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
          count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy(col("l_returnflag"))),

    // TPC-H Q14-style conditional aggregation over a join.
    "q13_promo_revenue" -> ((s, dir) => {
      val li = s.table("lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val part = s.table("part")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0))) * 100.0
            / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("promo_share"))
    }),

    // IN-subquery → left semi join.
    "q14_in_subquery" -> ((s, dir) => {
      val li = s.table("lineitem")
      val promo = s.table("part").filter(col("p_type") === "PROMO")
      li.join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("total"))
    }),

    // Uncorrelated scalar subquery (reference: EnforceSingleRowOperator).
    "q15_above_avg_customers" -> ((s, dir) => {
      val cust = s.table("customer")
      val avgBal = cust.agg(avg(col("c_acctbal")).as("a"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("a"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_rich"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q17: correlated scalar-agg subquery → per-key avg join.
    // Restrict lineitem to the Brand#13 parts (broadcast semi-join) BEFORE
    // the per-part threshold aggregation: the per-part avg only depends on
    // that part's own rows, so pre-filtering is semantics-preserving and at
    // 100 TB avoids a full-fact-table shuffle that would discard ~96% of
    // its output (r1 VERDICT item 9; Presto gets this via
    // `optimizations/PredicatePushDown.java:109` through the subquery).
    "q16_small_quantity_revenue" -> ((s, dir) => {
      val li = s.table("lineitem")
      val brandParts = s.table("part")
        .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
      val liBrand = li.join(broadcast(brandParts),
        col("l_partkey") === col("p_partkey"), "left_semi")
      val perPart = liBrand.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("qty_threshold"))
      // perPart has one row per brand part (small) → broadcast back.
      liBrand.join(broadcast(perPart), col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    }),

    // TPC-H Q18: HAVING-filtered IN subquery + 3-way join.
    "q17_large_orders" -> ((s, dir) => {
      val li = s.table("lineitem")
      val ord = s.table("orders")
      val cust = s.table("customer")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("tq"))
        .filter(col("tq") > 150)
        .select(col("l_orderkey").as("big_orderkey"))
      ord.join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Theta join (inequality pair-making; reference: NestedLoopJoinOperator
    // with join filter — Catalyst evaluates the extra predicate post-match).
    "q18_nation_pairs" -> ((s, dir) => {
      val n1 = s.table("nation").select(
        col("n_nationkey").as("k1"), col("n_name").as("name1"), col("n_regionkey").as("rk1"))
      val n2 = s.table("nation").select(
        col("n_nationkey").as("k2"), col("n_name").as("name2"), col("n_regionkey").as("rk2"))
      n1.join(n2, col("rk1") === col("rk2") && col("k1") < col("k2"))
        .groupBy(col("rk1").as("regionkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("regionkey"))
    }),

    "q19_cross_join" -> ((s, dir) => {
      val reg = s.table("region").select(col("r_name"))
      val nat = s.table("nation").select(col("n_name"))
      reg.crossJoin(nat).orderBy(col("r_name"), col("n_name"))
    }),

    // Full outer join of two aggregates.
    "q20_full_outer" -> ((s, dir) => {
      val custPerNation = s.table("customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val suppPerNation = s.table("supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      custPerNation.join(suppPerNation, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // TPC-H Q21-style EXISTS + NOT EXISTS with correlated inequalities.
    "q21_waiting_suppliers" -> ((s, dir) => {
      val supp = s.table("supplier")
      val ordF = s.table("orders").filter(col("o_orderstatus") === "F")
      val l1 = s.table("lineitem").alias("l1")
      val l2 = s.table("lineitem").alias("l2")
      val l3 = s.table("lineitem").alias("l3")
      val base = l1
        .join(ordF, col("l1.l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l1.l_suppkey") === col("s_suppkey"))
      val withOther = base.join(l2,
        col("l2.l_orderkey") === col("l1.l_orderkey") &&
          col("l2.l_suppkey") =!= col("l1.l_suppkey"), "left_semi")
      val noLater = withOther.join(l3,
        col("l3.l_orderkey") === col("l1.l_orderkey") &&
          col("l3.l_suppkey") =!= col("l1.l_suppkey") &&
          col("l3.l_shipdate") > col("l1.l_shipdate"), "left_anti")
      noLater.groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // TPC-H Q22: scalar subquery + NOT EXISTS + aggregation.
    "q22_global_sales_opportunity" -> ((s, dir) => {
      val cust = s.table("customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("a"))
      val recent = s.table("orders")
        .filter(col("o_orderdate") > lit("2001-01-01").cast("timestamp"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("a"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice*(1-l_discount) AS net_price, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |  AND l_quantity > 45""".stripMargin,

    "q03_shipping_priority" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q04_late_shipping" ->
      """SELECT o_orderstatus, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q05_nation_revenue" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q06_revenue_forecast" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q07_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q08_inactive_customers" ->
      """SELECT c_nationkey, count(*) AS n_inactive FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate > TIMESTAMP '2001-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q09_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q10_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,

    "q11_distinct_limit" ->
      """SELECT DISTINCT c_nationkey FROM customer
        |ORDER BY c_nationkey LIMIT 10""".stripMargin,

    "q12_having" ->
      """SELECT l_returnflag, round(sum(l_quantity),2) AS total_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |HAVING count(*) > 100 ORDER BY l_returnflag""".stripMargin,

    "q13_promo_revenue" ->
      """SELECT round(
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0
        |  / sum(l_extendedprice*(1-l_discount)), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "q14_in_subquery" ->
      """SELECT count(*) AS n, round(sum(l_extendedprice),2) AS total
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')""".stripMargin,

    "q15_above_avg_customers" ->
      """SELECT c_nationkey, count(*) AS n_rich FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q16_small_quantity_revenue" ->
      """SELECT round(sum(l_extendedprice)/7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT 0.5*avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q17_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | round(sum(l_quantity),2) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 150)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q18_nation_pairs" ->
      """SELECT n1.n_regionkey AS regionkey, count(*) AS n_pairs
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey
        | AND n1.n_nationkey < n2.n_nationkey
        |GROUP BY n1.n_regionkey ORDER BY regionkey""".stripMargin,

    "q19_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q20_full_outer" ->
      """SELECT nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) s USING (nationkey)
        |ORDER BY nationkey""".stripMargin,

    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        | JOIN orders ON l1.l_orderkey = o_orderkey
        | JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    "q22_global_sales_opportunity" ->
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        | round(sum(c_acctbal),2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderdate > TIMESTAMP '2001-01-01')
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin
  )
}
