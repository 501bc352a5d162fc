package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions: ranking, analytic (lag/lead/first/last/nth), aggregates
  * over ROWS and RANGE frames, and rank-based top-N-per-group.
  *
  * Reference surface: PrestoDB's WindowOperator
  * (`presto-main/.../operator/WindowOperator.java:47`, frame logic in
  * `window/WindowPartition.java:166-180`) and the specialized
  * RowNumberOperator/TopNRowNumberOperator (`RowNumberOperator.java:41`,
  * `TopNRowNumberOperator.java:38`).
  *
  * Scale notes: each window spec shuffles once on its partition keys; all
  * functions sharing a spec evaluate in one WindowExec pass. The
  * top-N-per-group query relies on Spark's WindowGroupLimit rule so the
  * rank filter prunes before the full sort materializes per partition —
  * the Spark analog of Presto's TopNRowNumberOperator.
  */
object Windows extends QueryPack {

  override def defs: Map[String, Q] = Map(
    // GROUPS frames (SqlBase.g4 has no GROUPS either — Presto matches
    // Spark here — but DuckDB implements the ANSI frame, making it a
    // real differential oracle): GROUPS BETWEEN n PRECEDING AND m
    // FOLLOWING over ORDER BY k is EXPRESSIBLE as a RANGE frame over
    // dense_rank() — peer groups become consecutive integers, so
    // RANGE dr±n selects exactly the n adjacent peer groups. One extra
    // window pass (the dense_rank), same single sort-shuffle; the
    // oracle runs DuckDB's NATIVE GROUPS frame over the raw key,
    // proving the equivalence rather than replaying the rewrite.
    "qn7_groups_frame" -> ((s, dir) => {
      s.sql(
        """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
          |    l_extendedprice
          |  FROM lineitem WHERE l_orderkey <= 100),
          |r AS (SELECT *, dense_rank() OVER (ORDER BY l_quantity) AS dr
          |  FROM t)
          |SELECT cast(l_orderkey as bigint) AS okey,
          |  cast(l_linenumber as bigint) AS lno,
          |  l_quantity AS qty,
          |  round(sum(l_extendedprice) OVER
          |    (ORDER BY dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
          |    AS grp_sum,
          |  cast(count(*) OVER
          |    (ORDER BY dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
          |    as bigint) AS grp_n
          |FROM r
          |ORDER BY okey, lno""".stripMargin)
    }),

    // All six ranking functions over one window spec (single shuffle+sort).
    "q30_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      s.table("customer")
        .filter(col("c_nationkey") < 5)
        .select(
          col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"))
    }),

    // Running aggregates over a ROWS frame.
    "q31_running_sum" -> ((s, dir) => {
      val ord = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      s.table("lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_quantity"))
            .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_qty"),
          round(avg(col("l_extendedprice"))
            .over(ord.rowsBetween(-3, Window.currentRow)), 4)
            .as("moving_avg_price"))
    }),

    "q32_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      s.table("orders")
        .filter(col("o_custkey") <= 100)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1, 0.0).over(w).as("next_price"),
          (col("o_totalprice") - lag(col("o_totalprice"), 1, 0.0).over(w)).as("price_delta"))
    }),

    "q33_first_last_nth" -> ((s, dir) => {
      val full = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      s.table("orders")
        .filter(col("o_custkey") <= 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(full).as("first_price"),
          last(col("o_totalprice")).over(full).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
    }),

    // RANGE frame over a numeric order key: peers counted by value distance.
    // (SQL form: the typed rangeBetween API only accepts long offsets.)
    "q34_range_frame" -> ((s, dir) => {
      s.sql(
        """SELECT o_orderstatus, o_orderkey, o_totalprice,
          | count(*) OVER w AS n_within_5k,
          | round(avg(o_totalprice) OVER w, 4) AS avg_within_5k
          |FROM orders WHERE o_custkey <= 50
          |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
          |  RANGE BETWEEN 5000.0 PRECEDING AND CURRENT ROW)""".stripMargin)
    }),

    // Top-3 per group via row_number filter (WindowGroupLimit path).
    "q35_top3_per_nation" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      s.table("customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    // Unordered whole-partition aggregate window: share-of-total.
    "q36_revenue_share" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
      s.table("lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice")).as("rev"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("rev"), 2).as("revenue"),
          round(col("rev") / sum(col("rev")).over(w), 6).as("share"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // IGNORE NULLS window variants (Presto lead/last_value IGNORE NULLS,
    // `WindowNode` frame semantics): forward-fill of the last known
    // positive balance + next positive balance, nulls planted at negative
    // balances.
    "q37_ignore_nulls" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
      s.table("customer")
        .withColumn("pos_bal",
          when(col("c_acctbal") >= 0, col("c_acctbal")))
        .select(col("c_custkey"), col("c_nationkey"), col("pos_bal"),
          last(col("pos_bal"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("filled"),
          lead(col("pos_bal"), 1, null, ignoreNulls = true).over(w)
            .as("next_pos"))
        .filter(col("c_custkey") <= 300)
        .orderBy(col("c_custkey"))
    }),

    // Explicit null ordering (Presto defaults NULLS LAST on ASC, Spark
    // NULLS FIRST — a real portability trap; both sides are explicit
    // here so the contract is pinned, not inherited).
    "q38_null_ordering" -> ((s, dir) =>
      s.table("customer")
        .withColumn("pos_bal",
          when(col("c_acctbal") >= 0, col("c_acctbal")))
        .filter(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("pos_bal"))
        .orderBy(col("pos_bal").asc_nulls_last, col("c_custkey")))
  )

  override def oracles: Map[String, String] = Map(
    // GROUPS-frame semantics derived from FIRST PRINCIPLES (DuckDB has
    // no GROUPS mode either): each row's frame is the rows whose order
    // key lies between the ADJACENT DISTINCT keys — neighbor bounds via
    // lag/lead over the distinct keys, then a range join. Different
    // machinery from the engine's RANGE-over-dense_rank rewrite, so the
    // hash match is a genuine differential check of the semantics.
    "qn7_groups_frame" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice
        |  FROM lineitem WHERE l_orderkey <= 100),
        |nb AS (SELECT q, coalesce(lag(q) OVER (ORDER BY q), q) AS pq,
        |         coalesce(lead(q) OVER (ORDER BY q), q) AS nq
        |       FROM (SELECT DISTINCT l_quantity AS q FROM t)),
        |agg AS (SELECT nb.q, sum(t2.l_extendedprice) AS ws,
        |         count(*) AS wn
        |        FROM nb JOIN t t2
        |          ON t2.l_quantity BETWEEN nb.pq AND nb.nq
        |        GROUP BY nb.q)
        |SELECT cast(l_orderkey as bigint) AS okey,
        |  cast(l_linenumber as bigint) AS lno,
        |  l_quantity AS qty,
        |  round(ws, 2) AS grp_sum,
        |  cast(wn as bigint) AS grp_n
        |FROM t JOIN agg ON agg.q = t.l_quantity
        |ORDER BY okey, lno""".stripMargin,

    "q37_ignore_nulls" ->
      """SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS pos_bal,
        |  last_value(CASE WHEN c_acctbal >= 0 THEN c_acctbal END IGNORE NULLS)
        |    OVER (PARTITION BY c_nationkey ORDER BY c_custkey
        |          ROWS UNBOUNDED PRECEDING) AS filled,
        |  lead(CASE WHEN c_acctbal >= 0 THEN c_acctbal END IGNORE NULLS)
        |    OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS next_pos
        |FROM customer
        |QUALIFY c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin,

    "q38_null_ordering" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS pos_bal
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY pos_bal ASC NULLS LAST, c_custkey""".stripMargin,

    "q30_window_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | row_number() OVER w AS rn,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | ntile(4) OVER w AS quartile,
        | percent_rank() OVER w AS prnk,
        | cume_dist() OVER w AS cdist
        |FROM customer WHERE c_nationkey < 5
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,

    "q31_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
        | round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg_price
        |FROM lineitem WHERE l_suppkey <= 5""".stripMargin,

    "q32_lead_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | lag(o_totalprice, 1, 0.0) OVER w AS prev_price,
        | lead(o_totalprice, 1, 0.0) OVER w AS next_price,
        | o_totalprice - lag(o_totalprice, 1, 0.0) OVER w AS price_delta
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q33_first_last_nth" ->
      """SELECT o_custkey, o_orderkey,
        | first_value(o_totalprice) OVER w AS first_price,
        | last_value(o_totalprice) OVER w AS last_price,
        | nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "q34_range_frame" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        | count(*) OVER w AS n_within_5k,
        | round(avg(o_totalprice) OVER w, 4) AS avg_within_5k
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |  RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q35_top3_per_nation" ->
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |   row_number() OVER (PARTITION BY c_nationkey
        |     ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "q36_revenue_share" ->
      """SELECT l_returnflag, l_linestatus,
        | round(rev, 2) AS revenue,
        | round(rev / sum(rev) OVER (PARTITION BY l_returnflag), 6) AS share
        |FROM (SELECT l_returnflag, l_linestatus,
        |        sum(l_extendedprice) AS rev
        |      FROM lineitem GROUP BY 1, 2) t
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
