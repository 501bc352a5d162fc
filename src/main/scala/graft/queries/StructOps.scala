package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Salt

/** ROW-type operations and skew-safe joins.
  *
  * qb2: Presto ROW construction, field access, and lexicographic row
  * comparison (`ROW(a, b) < ROW(c, d)`) — reference
  * `presto-common/.../type/RowType.java` + row comparison operators.
  * Spark-first: `struct()` columns, `.field` access, and struct
  * ordering under min/max (same lexicographic contract), which also
  * gives deterministic min_by/max_by tie-breaks (r1 ADVICE on q62).
  *
  * qb3: the salted shuffle join (see `graft.operators.Salt`) — output
  * must equal the plain join, so the oracle is the unsalted query.
  */
object StructOps extends QueryPack {

  override def defs: Map[String, Q] = Map(
    // Row values: per-nation extremes selected by lexicographic
    // (acctbal, name) struct order — deterministic under balance ties.
    "qb2_row_type_ops" -> ((s, dir) =>
      s.table("customer")
        .groupBy(col("c_nationkey"))
        .agg(
          min(struct(col("c_acctbal"), col("c_name"))).as("lo"),
          max(struct(col("c_acctbal"), col("c_name"))).as("hi"),
          count(lit(1)).as("n"))
        .select(col("c_nationkey"),
          col("lo.c_acctbal").as("lo_bal"), col("lo.c_name").as("lo_name"),
          col("hi.c_acctbal").as("hi_bal"), col("hi.c_name").as("hi_name"),
          col("n"))
        .orderBy(col("c_nationkey"))),

    // Null-safe comparison semantics (Presto IS [NOT] DISTINCT FROM,
    // `presto-common/.../function/OperatorType.IS_DISTINCT_FROM`;
    // null-skipping greatest/least): Spark's <=> over planted nulls.
    "qc1_nullsafe_ops" -> ((s, dir) => {
      val base = s.table("customer")
        .withColumn("nb", when(col("c_acctbal") >= 0, col("c_acctbal")))
      val a = base.select(col("c_custkey"), col("nb").as("a_nb"))
      val b = base.select((col("c_custkey") - 1).as("c_custkey"),
        col("nb").as("b_nb"))
      a.join(b, "c_custkey")
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          (col("a_nb") <=> col("b_nb")).as("same_bal"),
          greatest(col("a_nb"), col("b_nb")).as("hi"),
          least(col("a_nb"), col("b_nb")).as("lo"),
          coalesce(col("a_nb"), col("b_nb"), lit(0.0)).as("first_known"))
        .orderBy(col("c_custkey"))
    }),

    // Salted shuffle join on the 3-value l_returnflag key (the canonical
    // hot-key shape), aggregated after the join; output == plain join.
    "qb3_salted_join" -> ((s, dir) => {
      val li = s.table("lineitem")
      val flagDim = s.createDataFrame(Seq(
        ("A", "returned"), ("N", "active"), ("R", "refunded")))
        .toDF("l_returnflag", "flag_name")
      Salt.saltedJoin(li.select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber")),
          flagDim, "l_returnflag", salts = 8)
        .groupBy(col("flag_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 4).as("revenue"))
        .orderBy(col("flag_name"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "qb2_row_type_ops" ->
      """WITH ranked AS (
        |  SELECT c_nationkey, c_acctbal, c_name,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_name) AS rlo,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_name DESC) AS rhi,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer)
        |SELECT c_nationkey,
        |  min(CASE WHEN rlo = 1 THEN c_acctbal END) AS lo_bal,
        |  min(CASE WHEN rlo = 1 THEN c_name END) AS lo_name,
        |  min(CASE WHEN rhi = 1 THEN c_acctbal END) AS hi_bal,
        |  min(CASE WHEN rhi = 1 THEN c_name END) AS hi_name,
        |  CAST(min(n) AS BIGINT) AS n
        |FROM ranked GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "qc1_nullsafe_ops" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS nb
        |  FROM customer)
        |SELECT a.c_custkey,
        |  a.nb IS NOT DISTINCT FROM b.nb AS same_bal,
        |  greatest(a.nb, b.nb) AS hi,
        |  least(a.nb, b.nb) AS lo,
        |  coalesce(a.nb, b.nb, 0.0) AS first_known
        |FROM base a JOIN base b ON b.c_custkey = a.c_custkey + 1
        |WHERE a.c_custkey <= 300
        |ORDER BY a.c_custkey""".stripMargin,

    "qb3_salted_join" ->
      """WITH dim(l_returnflag, flag_name) AS (
        |  VALUES ('A', 'returned'), ('N', 'active'), ('R', 'refunded'))
        |SELECT flag_name, count(*) AS n,
        |  round(sum(l_extendedprice), 4) AS revenue
        |FROM lineitem JOIN dim USING (l_returnflag)
        |GROUP BY flag_name ORDER BY flag_name""".stripMargin
  )
}
