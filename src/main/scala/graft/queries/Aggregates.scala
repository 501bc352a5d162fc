package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.PrestoAggregates

/** Aggregate-function coverage beyond the relational pack: statistical
  * moments, min_by/max_by, boolean/bitwise aggregates, count variants,
  * exact quantiles, collected lists/sets, and the custom Presto aggregates
  * (geometric_mean / entropy / checksum).
  *
  * Reference registry: `presto-main/.../metadata/
  * BuiltInFunctionNamespaceManager.java:433-687`, implementations under
  * `presto-main/.../operator/aggregation/`.
  */
object Aggregates extends QueryPack {

  override def defs: Map[String, Q] = Map(
    "q60_stat_moments" -> ((s, dir) =>
      s.table("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_samp"),
          round(stddev_pop(col("l_quantity")), 6).as("sd_pop"),
          round(var_samp(col("l_quantity")), 6).as("v_samp"),
          round(var_pop(col("l_quantity")), 6).as("v_pop"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qp_covar"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("qp_covar_pop"))
        .orderBy(col("l_returnflag"))),

    // Spark reports population skewness/kurtosis; the oracle converts
    // DuckDB's sample statistics to population form.
    "q61_skew_kurt" -> ((s, dir) =>
      s.table("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(skewness(col("l_quantity")), 6).as("skew"),
          round(kurtosis(col("l_quantity")), 6).as("kurt"))
        .orderBy(col("l_returnflag"))),

    // Tie-break on (acctbal, name) so duplicate balances can't make the
    // oracle comparison order-dependent (struct ordering is lexicographic).
    "q62_minmax_by" -> ((s, dir) =>
      s.table("customer")
        .groupBy(col("c_nationkey"))
        .agg(
          max_by(col("c_name"), struct(col("c_acctbal"), col("c_name"))).as("richest"),
          min_by(col("c_name"), struct(col("c_acctbal"), col("c_name"))).as("poorest"),
          round(max(col("c_acctbal")), 2).as("max_bal"),
          round(min(col("c_acctbal")), 2).as("min_bal"))
        .orderBy(col("c_nationkey"))),

    "q63_bool_bit" -> ((s, dir) =>
      s.table("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          bool_and(col("l_quantity") > 1).as("all_qty_gt1"),
          bool_or(col("l_discount") > 0.09).as("any_high_disc"),
          bit_and(col("l_linenumber")).as("ln_and"),
          bit_or(col("l_linenumber")).as("ln_or"),
          bit_xor(col("l_linenumber")).as("ln_xor"))
        .orderBy(col("l_returnflag"))),

    "q64_count_variants" -> ((s, dir) =>
      s.table("lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("l_partkey")).as("n_partkey"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count_if(col("l_quantity") > 25).as("n_big"))
        .orderBy(col("l_linestatus"))),

    "q65_quantiles" -> ((s, dir) => {
      // Exact interpolated quantiles. r18 OPT (guide §5, verdict #2):
      // r17's collect_list+sort_array held each flag's whole value
      // array in one unspillable aggregation buffer; distributed rank
      // selection (RankSelect — counting pass, range-partitioned
      // spillable sort, filter to the target ranks) gives the same
      // linear interpolation v_lo + frac * (v_hi - v_lo) at
      // pos = 1 + (n-1) * q on the same doubles with bounded task
      // state. (The `percentile`/`median` TypedImperative aggregates
      // remain ~10x slower than either shape — SURVEY §2.4.)
      val li = s.table("lineitem")
      def cquantiles(valCol: String, qs: Seq[(Double, String)]) = {
        val base = li.select(col("l_returnflag").as("g"),
          col(valCol).cast("double").as("v"))
          .where(col("v").isNotNull)
        // driver-side mirror of the SQL rank math below (bit-identical
        // IEEE ops: n < 2^53 so the subtraction is exact either way)
        def ranksOf(n: Long): Seq[Long] = qs.flatMap { case (q, _) =>
          val pos = 1.0 + (n.toDouble - 1) * q
          val k = math.floor(pos).toLong
          Seq(k, math.min(k + 1, n))
        }
        val (stats, at) =
          graft.operators.RankSelect.orderStats(base, ranksOf)
        val outs = qs.map { case (q, out) =>
          val pos = lit(1.0) + (col("n").cast("double") - 1) * q
          val k = floor(pos).cast("long")
          val frac = pos - floor(pos)
          val vLo = at(k)
          // frac > 0 implies k+1 <= n; `least` keeps the untaken
          // branch within the populated ranks under ANSI element_at
          val vHi = at(least(k + 1, col("n")))
          round(when(frac > 0, vLo + frac * (vHi - vLo))
            .otherwise(vLo), 6).as(out)
        }
        stats.select(col("g").as("l_returnflag") +: outs: _*)
      }
      cquantiles("l_quantity", Seq(0.5 -> "med_qty"))
        .join(cquantiles("l_extendedprice",
          Seq(0.25 -> "p25_price", 0.75 -> "p75_price")), "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // Exact DECIMAL aggregation (Presto's exact-numeric type family,
    // `presto-common/.../type/DecimalType` — SURVEY §1.2): fixed-point
    // sums are order-independent, so unlike double sums the result is
    // bit-identical across engines with no rounding crutch. The gate
    // hashes pandas dtypes, and a raw DECIMAL output column decodes as
    // decimal128/object from Spark parquet but float64 from DuckDB — so
    // the comparable surface is integer cents (BIGINT) plus the decimal
    // rendered to its canonical scale-2 string; the decimal arithmetic
    // itself still runs on the Spark side (long→decimal(18,2)→/100).
    "qb9_decimal_exact" -> ((s, dir) =>
      s.table("lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"),
          round(col("l_quantity") * 100).cast("long").as("qc"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("pc")).as("pc_sum"), sum(col("qc")).as("qc_sum"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("pc_sum").as("sum_price_cents"),
          (col("pc_sum").cast("decimal(18,2)") / 100).cast("decimal(18,2)")
            .cast("string").as("sum_price_str"),
          col("qc_sum").as("sum_qty_cents"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // Custom Presto aggregates (graft.functions.PrestoAggregates).
    "q66_custom_aggs" -> ((s, dir) => {
      val perSupp = s.table("lineitem")
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(count(lit(1)).as("cnt"))
      perSupp.groupBy(col("l_returnflag"))
        .agg(round(PrestoAggregates.entropy(col("cnt")), 6).as("supp_entropy"),
          round(PrestoAggregates.geometricMean(col("cnt")), 6).as("geo_mean_cnt"),
          PrestoAggregates.checksum(col("l_suppkey")).as("supp_checksum"))
        .orderBy(col("l_returnflag"))
    }),

    // min_by/max_by N-variants (reference
    // `aggregation/MinMaxByNAggregationFunction.java`): the n poorest /
    // richest customer names per nation. Deterministic tie-break by
    // (balance, name) lexicographic struct sort; serialized as csv for
    // the gate. The collect+sort composition is the Spark-first shape:
    // the struct list partial-aggregates map-side, and per-group n is
    // tiny (Presto bounds n at 10k for the same reason).
    "qd8_minmax_by_n" -> ((s, dir) => {
      val sorted = array_sort(collect_list(struct(col("c_acctbal"), col("c_name"))))
      s.table("customer")
        .groupBy(col("c_nationkey"))
        .agg(sorted.as("sorted"))
        .select(col("c_nationkey"),
          expr("array_join(transform(slice(sorted, 1, 3), s -> s.c_name), ',')")
            .as("poorest3"),
          expr("array_join(transform(slice(reverse(sorted), 1, 3), s -> s.c_name), ',')")
            .as("richest3"))
        .orderBy(col("c_nationkey"))
    }),

    // Collected lists serialized to csv strings: the driver's pandas-based
    // row sort can't hash numpy arrays, so both sides project canonical
    // strings (VERDICT r1: q67 harness error).
    "q67_collect" -> ((s, dir) =>
      s.table("lineitem")
        .filter(col("l_orderkey") <= 40)
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(sort_array(collect_list(col("l_linenumber"))), ",").as("linenumbers"),
          array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("flags"))
        .orderBy(col("l_orderkey")))
  )

  override def oracles: Map[String, String] = Map(
    "q60_stat_moments" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 6) AS sd_samp,
        | round(stddev_pop(l_quantity), 6) AS sd_pop,
        | round(var_samp(l_quantity), 6) AS v_samp,
        | round(var_pop(l_quantity), 6) AS v_pop,
        | round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar,
        | round(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar_pop
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q61_skew_kurt" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(skewness(l_quantity) * (count(*) - 2)
        |   / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew,
        | round((kurtosis(l_quantity) * (count(*) - 2) * (count(*) - 3)
        |   / (count(*) - 1.0) - 6) / (count(*) + 1.0), 6) AS kurt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // DuckDB max_by has no struct-ordered form; express the same
    // (balance, name)-lexicographic tie-break via FILTERed min/max.
    "q62_minmax_by" ->
      """WITH ext AS (
        |  SELECT c_nationkey, max(c_acctbal) AS mx, min(c_acctbal) AS mn
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c.c_nationkey,
        | max(c_name) FILTER (WHERE c_acctbal = mx) AS richest,
        | min(c_name) FILTER (WHERE c_acctbal = mn) AS poorest,
        | round(max(mx), 2) AS max_bal,
        | round(min(mn), 2) AS min_bal
        |FROM customer c JOIN ext ON c.c_nationkey = ext.c_nationkey
        |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin,

    "q63_bool_bit" ->
      """SELECT l_returnflag,
        | bool_and(l_quantity > 1) AS all_qty_gt1,
        | bool_or(l_discount > 0.09) AS any_high_disc,
        | bit_and(l_linenumber) AS ln_and,
        | bit_or(l_linenumber) AS ln_or,
        | bit_xor(l_linenumber) AS ln_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q64_count_variants" ->
      """SELECT l_linestatus,
        | count(*) AS n_rows,
        | count(l_partkey) AS n_partkey,
        | count(DISTINCT l_suppkey) AS n_supp,
        | CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q65_quantiles" ->
      """SELECT l_returnflag,
        | round(median(l_quantity), 6) AS med_qty,
        | round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
        | round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "qb9_decimal_exact" ->
      """WITH cents AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(sum(pc) AS BIGINT) AS sum_price_cents,
        |  CAST(CAST(CAST(sum(pc) AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2))
        |    AS VARCHAR) AS sum_price_str,
        |  CAST(sum(qc) AS BIGINT) AS sum_qty_cents,
        |  count(*) AS n
        |FROM cents GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q66_custom_aggs" ->
      """WITH per_supp AS (
        |  SELECT l_returnflag, l_suppkey, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        | round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 6) AS supp_entropy,
        | round(exp(avg(ln(cnt))), 6) AS geo_mean_cnt,
        | bit_xor(CAST(concat('0x',
        |   substring(md5(CAST(l_suppkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS supp_checksum
        |FROM per_supp GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "qd8_minmax_by_n" ->
      """WITH r AS (SELECT c_nationkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_name) AS rn,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_name DESC) AS rd
        |  FROM customer)
        |SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_acctbal, c_name)
        |    FILTER (WHERE rn <= 3) AS poorest3,
        |  string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name DESC)
        |    FILTER (WHERE rd <= 3) AS richest3
        |FROM r GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q67_collect" ->
      """SELECT l_orderkey,
        | array_to_string(list_sort(array_agg(l_linenumber)), ',') AS linenumbers,
        | array_to_string(list_sort(list_distinct(array_agg(l_returnflag))), ',') AS flags
        |FROM lineitem WHERE l_orderkey <= 40
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}
