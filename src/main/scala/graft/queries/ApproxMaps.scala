package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.PrestoAggregates

/** Approximate aggregates and the map-valued aggregate family.
  *
  * Reference: `presto-main/.../aggregation/
  * ApproximateCountDistinctAggregation.java`,
  * `ApproximateLongPercentileAggregations.java`,
  * `MapAggregationFunction.java`, `MapUnionAggregation.java`,
  * `MultimapAggregationFunction.java`, `HistogramAggregation.java`,
  * `ArbitraryAggregationFunction.java`, `ReduceAggregationFunction.java`.
  *
  * Oracle strategy: approx results differ across engines by construction,
  * so queries emit the EXACT value plus a boolean "approx within tolerance"
  * — the oracle asserts the boolean is true, which fails loudly if the
  * estimator drifts. Map values are serialized as sorted `k=v` strings
  * (maps aren't hashable by the driver's pandas compare).
  *
  * Scale: every query is partial+final hash aggregation — one shuffle of
  * small states; HLL sketches merge associatively exactly like Presto's.
  */
object ApproxMaps extends QueryPack {

  override def defs: Map[String, Q] = Map(
    "q85_approx_aggs" -> ((s, dir) => {
      // Separate aggregations joined at the end (4-row join keys): mixing
      // countDistinct (Expand-based) with the TypedImperative
      // percentile_approx in ONE agg forces the whole input through an
      // ObjectHashAggregate over expanded rows (~20x slower, measured).
      // The exact median reads the two middle order statistics per flag
      // via distributed rank selection (r18 OPT, guide §5 / verdict #2:
      // r17's collect_list+sort_array buffered each flag's whole value
      // array unspillably; RankSelect bounds task state at any scale).
      // (a+b)/2 is bit-equal to avg of the one or two middle rows.
      val li = s.table("lineitem")
      val counts = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      val acd = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("acd"))
      val papprox = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"))
      val medBase = li.select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
        .where(col("v").isNotNull)
      // the two middle ranks (equal when n is odd) — (a+b)/2 below is
      // then bit-equal to the avg of the one or two middle rows
      val (medStats, at) = graft.operators.RankSelect
        .orderStats(medBase, n => Seq((n + 1) / 2, (n + 2) / 2))
      val median = medStats.select(col("g").as("l_returnflag"),
        ((at(((col("n") + 1) / 2).cast("long")) +
          at(((col("n") + 2) / 2).cast("long")))
          / 2.0).as("p50_exact"))
      counts.join(acd, "l_returnflag").join(papprox, "l_returnflag")
        .join(median, "l_returnflag")
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          (abs(col("acd") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("acd_ok"),
          (abs(col("p50_approx") - col("p50_exact")) <= lit(100.0)).as("pctl_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // map_agg(k, v): per-nation map segment→customer-count, serialized.
    // Map higher-order functions (transform_values / map_filter —
    // Presto's map lambda family, `MapTransformValuesFunction` etc.):
    // per-nation segment-count map, values doubled, small entries
    // filtered out, serialized sorted for the driver compare.
    "q7a_map_lambda" -> ((s, dir) => {
      val per = s.table("customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      per.groupBy(col("c_nationkey"))
        .agg(map_from_entries(
          collect_list(struct(col("c_mktsegment"), col("n")))).as("m"))
        .select(col("c_nationkey"), expr(
          """array_join(transform(
            |  sort_array(map_entries(
            |    transform_values(map_filter(m, (k, v) -> v > 5),
            |                     (k, v) -> v * 2))),
            |  e -> concat(e.key, '=', e.value)), ',')""".stripMargin)
          .as("doubled_big_segs"))
        .orderBy(col("c_nationkey"))
    }),

    "q86_map_agg" -> ((s, dir) => {
      val per = s.table("customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      per.groupBy(col("c_nationkey"))
        .agg(expr(
          """array_join(transform(
            |  sort_array(collect_list(struct(c_mktsegment AS k, n AS v))),
            |  e -> concat(e.k, '=', e.v)), ',')""".stripMargin).as("seg_counts"))
        .orderBy(col("c_nationkey"))
    }),

    // histogram(x) (= map value→count) and multimap_agg(k → all values),
    // serialized the same way.
    "q87_histogram_multimap" -> ((s, dir) => {
      val li = s.table("lineitem")
      val hist = li.groupBy(col("l_returnflag"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"))
      hist.groupBy(col("l_returnflag"))
        .agg(
          expr(
            """array_join(transform(
              |  sort_array(collect_list(struct(l_linenumber AS k, n AS v))),
              |  e -> concat(e.k, '=', e.v)), ',')""".stripMargin).as("ln_hist"),
          expr(
            """array_join(transform(
              |  sort_array(collect_list(struct(l_linenumber AS k, n AS v))),
              |  e -> e.k), '|')""".stripMargin).as("ln_keys"))
        .orderBy(col("l_returnflag"))
    }),

    // numeric_histogram(buckets, x) (NumericHistogram.java via
    // DoubleHistogramAggregation): adaptive Ben-Haim/Tom-Tov bins as
    // map<double,double>. Bin placement is arrival-order-dependent, so
    // the gate tests the algorithm's exact invariants instead: bin count
    // pinned at capacity (50 distinct quantities > 10 bins), total
    // weight conserved exactly, weighted mean equal to the true mean up
    // to float rounding, bins inside the observed range.
    "qj1_numeric_histogram" -> ((s, dir) => {
      val li = s.table("lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(graft.functions.NumericHistogram.agg(10, col("l_quantity"))
            .as("h"),
          count(lit(1)).as("n"), avg(col("l_quantity")).as("mean"),
          min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
        .select(col("l_returnflag"),
          size(col("h")).as("n_bins"),
          expr("cast(aggregate(map_values(h), 0D, (s, x) -> s + x) as bigint)")
            .as("total_w"),
          expr("""abs(aggregate(map_entries(h), 0D,
                |      (s, e) -> s + e.key * e.value)
                |    / aggregate(map_values(h), 0D, (s, x) -> s + x)
                |    - mean) <= mean * 1e-9""".stripMargin).as("wmean_ok"),
          expr("array_min(map_keys(h)) >= mn AND array_max(map_keys(h)) <= mx")
            .as("span_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // arbitrary() over a group-constant column (deterministic by
    // construction, so the oracle can pin it with min()).
    "q88_arbitrary" -> ((s, dir) =>
      s.table("customer")
        .groupBy(col("c_nationkey"))
        .agg(
          PrestoAggregates.arbitrary(substring(col("c_name"), 1, 9)).as("name_tag"),
          count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))),

    // reduce_agg instantiated as a product aggregate — custom two-phase
    // Aggregator (compound growth per order: Π(1 + discount)).
    "q89_reduce_product" -> ((s, dir) =>
      s.table("lineitem").filter(col("l_orderkey") <= 40)
        .groupBy(col("l_orderkey"))
        .agg(
          round(PrestoAggregates.productAgg(col("l_discount") + 1.0), 6)
            .as("growth"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_orderkey")))
  )

  override def oracles: Map[String, String] = Map(
    "qj1_numeric_histogram" ->
      """SELECT l_returnflag, CAST(10 AS INT) AS n_bins,
        |  CAST(count(*) AS BIGINT) AS total_w,
        |  TRUE AS wmean_ok, TRUE AS span_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q85_approx_aggs" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS acd_ok,
        | TRUE AS pctl_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q7a_map_lambda" ->
      """WITH per AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey,
        |  coalesce(string_agg(c_mktsegment || '=' || (n * 2), ','
        |    ORDER BY c_mktsegment) FILTER (n > 5), '') AS doubled_big_segs
        |FROM per GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q86_map_agg" ->
      """WITH per AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey,
        | array_to_string(list_transform(
        |   list_sort(array_agg({'k': c_mktsegment, 'v': n})),
        |   e -> e.k || '=' || e.v), ',') AS seg_counts
        |FROM per GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q87_histogram_multimap" ->
      """WITH hist AS (
        |  SELECT l_returnflag, l_linenumber, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        | array_to_string(list_transform(
        |   list_sort(array_agg({'k': l_linenumber, 'v': n})),
        |   e -> e.k || '=' || e.v), ',') AS ln_hist,
        | array_to_string(list_transform(
        |   list_sort(array_agg({'k': l_linenumber, 'v': n})),
        |   e -> e.k), '|') AS ln_keys
        |FROM hist GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q88_arbitrary" ->
      """SELECT c_nationkey,
        | min(substr(c_name, 1, 9)) AS name_tag,
        | count(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q89_reduce_product" ->
      """SELECT l_orderkey,
        | round(product(l_discount + 1.0), 6) AS growth,
        | count(*) AS n_items
        |FROM lineitem WHERE l_orderkey <= 40
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}
