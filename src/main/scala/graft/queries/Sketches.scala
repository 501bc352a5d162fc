package graft.queries

import org.apache.spark.sql.functions._

/** HLL sketch types (SURVEY §2 #61, previously deferred): build, merge,
  * and estimate HyperLogLog sketches as first-class values — the Presto
  * `approx_set` / `merge` / `cardinality` workflow
  * (`presto-main/.../scalar/HyperLogLogFunctions.java`,
  * `aggregation/MergeHyperLogLogAggregation.java`), expressed with
  * Spark's Datasketches builtins (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`).
  *
  * Oracle strategy: sketch binaries are engine-specific, so queries emit
  * the exact cardinality plus tolerance booleans (the q85 pattern) —
  * estimator drift fails loudly. The merge query proves the re-aggregation
  * property that matters at scale: sketch per partition, union across
  * partitions, one small state per group ever shuffled.
  *
  * Quantile sketches (the qdigest/tdigest side of the reference,
  * `QuantileDigestFunctions.java`, `tdigest/TDigest.java`) follow the
  * same pattern via `graft.functions.QuantileSketch` — a DDSketch-style
  * TypedImperativeAggregate with binary state whose merge is exact
  * (bucket-wise sums are order-independent), proven by qc7's equality
  * check between merged and directly-built estimates.
  */
object Sketches extends QueryPack {

  /** Exact interpolated percentiles of l_extendedprice per l_returnflag.
    * r18 OPT (guide §5, r17 verdict "what's wrong" #2): the r17
    * `collect_list` + `sort_array` shape held each group's WHOLE value
    * array in one unspillable aggregation buffer — an OOM wall once a
    * group outgrows executor memory. Replaced with distributed rank
    * selection ([[graft.operators.RankSelect]]): one counting pass
    * (`cdfAt` piggybacks its exact CDF there — one more agg column, no
    * extra pass), a range-partitioned spillable sort spread across the
    * session's parallelism, and a filter to the two target ranks per
    * quantile. The interpolation v_lo + frac·(v_hi − v_lo) at
    * pos = (n−1)·q + 1 runs on the same doubles at the same positions —
    * bit-identical results with bounded task state at any scale. */
  private def exactPercentiles(
      li: org.apache.spark.sql.DataFrame,
      qs: Seq[(Double, String)],
      cdfAt: Option[(Double, String)] = None): org.apache.spark.sql.DataFrame = {
    val base = li.select(col("l_returnflag").as("g"),
      col("l_extendedprice").cast("double").as("v"))
      .where(col("v").isNotNull)
    val extra = cdfAt.toSeq.map { case (x, out) =>
      avg(when(col("v") <= x, 1.0).otherwise(0.0)).as(out) }
    // driver-side mirror of the SQL rank math below (bit-identical IEEE
    // ops: n < 2^53 so the subtraction is exact either way)
    def ranksOf(n: Long): Seq[Long] = qs.flatMap { case (q, _) =>
      val pos = (n.toDouble - 1) * q + 1
      val k = math.floor(pos).toLong
      Seq(k, math.min(k + 1, n))
    }
    val (stats, at) =
      graft.operators.RankSelect.orderStats(base, ranksOf, extra)
    val outs = qs.map { case (q, out) =>
      val pos = (col("n").cast("double") - 1) * q + 1
      val k = floor(pos).cast("long")
      val frac = pos - floor(pos)
      val vLo = at(k)
      // frac > 0 implies k+1 <= n; `least` keeps the untaken branch
      // within the populated ranks under ANSI element_at
      val vHi = at(least(k + 1, col("n")))
      when(frac > 0, vLo + frac * (vHi - vLo)).otherwise(vLo).as(out)
    } ++ cdfAt.map { case (_, out) => col(out) }
    stats.select(col("g").as("l_returnflag") +: outs: _*)
  }

  /** The sketch proof queries' shared input: the three lineitem columns
    * they touch. r18: the r17 MEMORY_ONLY persist was a cross-gate
    * in-JVM cache (r17 verdict "what's wrong" #5) — it blurred
    * per-query attribution and pinned storage memory for the whole
    * suite; the narrow column-pruned scan it saved is ~30 ms. */
  private def narrowLi(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.table("lineitem")
      .select(col("l_returnflag"), col("l_suppkey"), col("l_extendedprice"))

  override def defs: Map[String, Q] = Map(
    // Build + estimate per group, tolerance-checked against exact.
    "qa9_hll_sketch" -> ((s, dir) => {
      val li = s.table("lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(
          hll_sketch_agg(col("l_partkey"), lit(12))).as("est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      exact.join(est, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("est") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("hll_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Merge: per-supplier partial sketches unioned per flag must estimate
    // the same cardinality as a direct sketch (re-aggregation soundness).
    "qb1_hll_merge" -> ((s, dir) => {
      val li = s.table("lineitem")
      val partials = li.groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
      val merged = partials.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      exact.join(merged, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("merged_est") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("merge_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Quantile sketch build + estimate: p50/p95 of extendedprice per
    // flag, tolerance-checked against the exact interpolated percentile
    // (sketch guarantees relative value error <= alpha = 1%; the rank
    // convention differs from interpolation by < 1 order statistic, so
    // 2% absorbs both).
    "qc6_qdigest_quantile" -> ((s, dir) => {
      val li = narrowLi(s, dir)
      val est = li.groupBy(col("l_returnflag"))
        .agg(graft.functions.QuantileSketch
          .sketch(col("l_extendedprice"), 0.01).as("sk"))
        .select(col("l_returnflag"),
          graft.functions.QuantileSketch.valueAt(col("sk"), 0.5).as("p50_est"),
          graft.functions.QuantileSketch.valueAt(col("sk"), 0.95).as("p95_est"),
          graft.functions.QuantileSketch.quantileAt(col("sk"), 40000.0)
            .as("q_at_40k"))
      val exact = exactPercentiles(li, Seq(0.5 -> "p50_ex", 0.95 -> "p95_ex"),
        cdfAt = Some(40000.0 -> "cdf_ex"))
      exact.join(est, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("p50_ex"), 6).as("p50_exact"),
          (abs(col("p50_est") - col("p50_ex")) <= col("p50_ex") * 0.02)
            .as("p50_ok"),
          round(col("p95_ex"), 6).as("p95_exact"),
          (abs(col("p95_est") - col("p95_ex")) <= col("p95_ex") * 0.02)
            .as("p95_ok"),
          // quantile_at_value (QuantileDigestFunctions.java): rank of
          // 40000 within tolerance of the exact data fraction
          (abs(col("q_at_40k") - col("cdf_ex")) <= lit(0.02)).as("cdf_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Re-aggregation: per-supplier partial sketches merged per flag must
    // estimate EXACTLY what the direct sketch estimates (bucket sums are
    // order-independent), and stay within tolerance of exact — the
    // property that lets 100 TB pipelines pre-sketch per partition/day
    // and merge later (Presto merge(qdigest) semantics).
    "qc7_qdigest_merge" -> ((s, dir) => {
      val li = narrowLi(s, dir)
      val qs = graft.functions.QuantileSketch
      val direct = li.groupBy(col("l_returnflag"))
        .agg(qs.sketch(col("l_extendedprice"), 0.01).as("sk"))
        .select(col("l_returnflag"), qs.valueAt(col("sk"), 0.5).as("p50_direct"))
      val merged = li.groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(qs.sketch(col("l_extendedprice"), 0.01).as("psk"))
        .groupBy(col("l_returnflag"))
        .agg(qs.merge(col("psk")).as("msk"))
        .select(col("l_returnflag"), qs.valueAt(col("msk"), 0.5).as("p50_merged"))
      val exact = exactPercentiles(li, Seq(0.5 -> "p50_ex"))
      exact.join(direct, "l_returnflag").join(merged, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("p50_ex"), 6).as("p50_exact"),
          (col("p50_merged") === col("p50_direct")).as("merge_exact_ok"),
          (abs(col("p50_merged") - col("p50_ex")) <= col("p50_ex") * 0.02)
            .as("merge_tol_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // t-digest (TDigest.java, TDigestFunctions.java): the second digest
    // family, rank-accurate at the tails. Gates: value_at_quantile within
    // 2% of exact at p50/p95; quantile_at_value of the exact median lands
    // in [0.45, 0.55]; per-supplier partials merged via merge_tdigest stay
    // within 2%; scale_tdigest (uniform weight rescale) leaves quantiles
    // unchanged. Centroid layout is merge-order-dependent by construction,
    // so unlike qc7 the merge gate is tolerance, not byte equality.
    "qi9_tdigest" -> ((s, dir) => {
      val td = graft.functions.TDigest
      val li = narrowLi(s, dir)
      val direct = li.groupBy(col("l_returnflag"))
        .agg(td.sketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          td.valueAt(col("sk"), 0.5).as("p50_est"),
          td.valueAt(col("sk"), 0.95).as("p95_est"),
          td.quantileAt(col("sk"), 40000.0).as("q_at_40k"),
          td.valueAt(col("sk"), 0.5).as("p50_unscaled"),
          td.valueAt(td.scaled(col("sk"), 3.0), 0.5).as("p50_scaled"))
      val merged = li.groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(td.sketch(col("l_extendedprice")).as("psk"))
        .groupBy(col("l_returnflag"))
        .agg(td.merge(col("psk")).as("msk"))
        .select(col("l_returnflag"),
          td.valueAt(col("msk"), 0.5).as("p50_merged"))
      val exact = exactPercentiles(li, Seq(0.5 -> "p50_ex", 0.95 -> "p95_ex"),
        cdfAt = Some(40000.0 -> "cdf_ex"))
      exact.join(direct, "l_returnflag").join(merged, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("p50_ex"), 6).as("p50_exact"),
          (abs(col("p50_est") - col("p50_ex")) <= col("p50_ex") * 0.02)
            .as("p50_ok"),
          (abs(col("p95_est") - col("p95_ex")) <= col("p95_ex") * 0.02)
            .as("p95_ok"),
          (abs(col("p50_merged") - col("p50_ex")) <= col("p50_ex") * 0.02)
            .as("merge_ok"),
          // inverse lookup: sketch CDF at 40000 within rank tolerance of
          // the exact data fraction
          (abs(col("q_at_40k") - col("cdf_ex")) <= lit(0.02)).as("cdf_ok"),
          (abs(col("p50_scaled") - col("p50_unscaled")) <=
            abs(col("p50_unscaled")) * 1e-9).as("scale_invariant_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Vector digest lookups (values_at_quantiles / quantiles_at_values,
    // TDigestFunctions.java + QuantileDigestFunctions.java): the array
    // forms must agree ELEMENT-EXACTLY with the scalar lookups on the
    // same serialized digest — same code path, so equality is exact, for
    // both digest families (the expression discriminates on the header).
    "qj5_digest_vectors" -> ((s, dir) => {
      val qs = graft.functions.QuantileSketch
      val td = graft.functions.TDigest
      narrowLi(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(qs.sketch(col("l_extendedprice"), 0.01).as("dd"),
          td.sketch(col("l_extendedprice")).as("td"))
        .select(col("l_returnflag"),
          (expr("values_at_quantiles(dd, array(0.5D, 0.95D))") ===
            array(qs.valueAt(col("dd"), 0.5), qs.valueAt(col("dd"), 0.95)))
            .as("dd_vals_ok"),
          (expr("element_at(quantiles_at_values(dd, array(40000.0D)), 1)") ===
            qs.quantileAt(col("dd"), 40000.0)).as("dd_ranks_ok"),
          (expr("values_at_quantiles(td, array(0.5D, 0.95D))") ===
            array(td.valueAt(col("td"), 0.5), td.valueAt(col("td"), 0.95)))
            .as("td_vals_ok"),
          (expr("element_at(quantiles_at_values(td, array(40000.0D)), 1)") ===
            td.quantileAt(col("td"), 40000.0)).as("td_ranks_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Heavy hitters: Presto approx_most_frequent(buckets, value, capacity)
    // as a space-saving TypedImperativeAggregate (bounded state, map-side
    // partial aggregation — the partial/final merge path runs inside this
    // very query across the 32 shuffle partitions). capacity=64 exceeds
    // the 50 distinct quantities, so counts are exact and the top-5 rows
    // replay in the oracle; tie-break (count desc, key asc) is enforced
    // identically on both sides.
    "qe4_approx_most_frequent" -> ((s, dir) => {
      val li = s.table("lineitem")
      val m = li.groupBy(col("l_returnflag"))
        .agg(graft.functions.ApproxMostFrequent(
          5, col("l_quantity").cast("long"), 64).as("m"))
      m.select(col("l_returnflag"), posexplode(col("m")))
        .select(col("l_returnflag"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("key").as("qty"), col("value").as("cnt"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }),

    // SetDigest family through the SQL surface (SetDigestFunctions.java:
    // make_set_digest / cardinality / jaccard_index /
    // intersection_cardinality). Below saturation (distinct suppliers per
    // flag << k=8192) every answer is exact, so the oracle replays them
    // with plain set algebra — estimator drift fails the hash, loudly.
    "qh0_set_digest" -> ((s, dir) => {
      s.sql(
        """WITH d AS (
          |  SELECT l_returnflag, make_set_digest(l_suppkey) AS sd
          |  FROM lineitem GROUP BY l_returnflag)
          |SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
          |  cardinality(a.sd) AS card_a,
          |  jaccard_index(a.sd, b.sd) AS jac,
          |  intersection_cardinality(a.sd, b.sd) AS icard
          |FROM d a JOIN d b ON a.l_returnflag < b.l_returnflag
          |ORDER BY flag_a, flag_b""".stripMargin)
    }),

    // SetDigest re-aggregation: per-(flag, linestatus) partial digests
    // merged per flag must be BYTE-identical to the directly-built digest
    // (KMV state is order/partition independent and serialization is
    // canonical) — the pre-digest-per-day-then-merge property at 100 TB.
    // KHyperLogLog through the SQL surface: how identifying is l_partkey
    // for l_orderkey. Unsaturated regime (2000 parts < 4096 keys, ~30
    // orders per part < 256 per-key sketch) ⇒ cardinality, the
    // uniqueness histogram, and reidentification potential are all exact
    // and the oracle replays them by counting; the merged-from-partials
    // digest must be byte-identical to the direct build.
    "qh7_khll" -> ((s, dir) => {
      s.sql(
        """WITH d AS (
          |  SELECT l_linestatus, khyperloglog_agg(l_partkey, l_orderkey)
          |    AS kh
          |  FROM lineitem GROUP BY l_linestatus),
          |m AS (SELECT merge_khll(kh) AS kh FROM d),
          |direct AS (
          |  SELECT khyperloglog_agg(l_partkey, l_orderkey) AS kh
          |  FROM lineitem),
          |s AS (
          |  SELECT cardinality(m.kh) AS n_parts,
          |    reidentification_potential(m.kh, 25) AS reident25,
          |    m.kh = direct.kh AS merge_ok,
          |    uniqueness_distribution(m.kh, 8) AS dist
          |  FROM m, direct)
          |SELECT n_parts, reident25, merge_ok,
          |  cast(bucket as bigint) AS bucket, frac
          |FROM s LATERAL VIEW explode(dist) t AS bucket, frac
          |ORDER BY bucket""".stripMargin)
    }),

    // r8: the real HyperLogLog estimator behind approx_set/merge/
    // cardinality (HyperLogLog.scala), gated at ~100× register
    // saturation (400k distinct into 4096 registers) where the KMV
    // stand-in it replaced would drift: the estimate must land within
    // 5% (±3σ of the reference's published 1.625% SE for approx_set),
    // per-shard partials merged must be BYTE-identical to the direct
    // build (register-wise max is partition-independent), the
    // linear-counting small range must be ±4% (~3σ) at n=3000, and the
    // empty-sketch constant estimates exactly 0.
    "qj9_hll_estimator" -> ((s, dir) => {
      s.range(400000L).toDF("id").createOrReplaceTempView("graft_hll_ids")
      s.sql(
        """WITH p AS (
          |  SELECT id % 64 AS shard, approx_set(id) AS hs
          |  FROM graft_hll_ids GROUP BY id % 64),
          |m AS (SELECT merge(hs) AS mhs FROM p),
          |d AS (SELECT approx_set(id) AS dhs FROM graft_hll_ids),
          |sm AS (SELECT approx_set(id) AS shs FROM graft_hll_ids
          |       WHERE id < 3000),
          |ad AS (SELECT approx_distinct(id) AS a1,
          |              approx_distinct(id, 0.0115) AS a2
          |       FROM graft_hll_ids)
          |SELECT cast(400000 as bigint) AS n_distinct,
          |  abs(cardinality(dhs) - 400000) <= 20000 AS est_ok,
          |  mhs = dhs AS merge_identical,
          |  abs(cardinality(shs) - 3000) <= 120 AS lc_ok,
          |  cardinality(empty_approx_set()) = 0 AS empty_ok,
          |  -- approx_distinct = the reference's p=11 default (SE 2.3%,
          |  -- gate at 3 SE) and the 2-arg maxStandardError form
          |  -- (0.0115 -> 8192 registers, tighter than the default)
          |  abs(a1 - 400000) <= 28000 AS ad_ok,
          |  abs(a2 - 400000) <= 14000 AS ad2_ok
          |FROM d, m, sm, ad""".stripMargin)
    }),

    "qh1_set_digest_merge" -> ((s, dir) => {
      val li = s.table("lineitem")
      val sd = graft.functions.SetDigest
      val direct = li.groupBy(col("l_returnflag"))
        .agg(sd.make(col("l_suppkey")).as("d"))
      val merged = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sd.make(col("l_suppkey")).as("pd"))
        .groupBy(col("l_returnflag"))
        .agg(sd.merge(col("pd")).as("m"))
      direct.join(merged, "l_returnflag")
        .select(col("l_returnflag"),
          sd.card(col("d")).as("card_direct"),
          (col("d") === col("m")).as("merge_bytes_equal"))
        .orderBy(col("l_returnflag"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "qa9_hll_sketch" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS hll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qb1_hll_merge" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS merge_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qc6_qdigest_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  TRUE AS p50_ok,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
        |  TRUE AS p95_ok, TRUE AS cdf_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qc7_qdigest_merge" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  TRUE AS merge_exact_ok, TRUE AS merge_tol_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qi9_tdigest" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS merge_ok,
        |  TRUE AS cdf_ok, TRUE AS scale_invariant_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qj5_digest_vectors" ->
      """SELECT l_returnflag,
        |  TRUE AS dd_vals_ok, TRUE AS dd_ranks_ok,
        |  TRUE AS td_vals_ok, TRUE AS td_ranks_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qe4_approx_most_frequent" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT l_returnflag, qty, cnt, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY cnt DESC, qty) AS rnk
        |  FROM c)
        |SELECT l_returnflag, rnk, qty, cnt FROM r WHERE rnk <= 5
        |ORDER BY l_returnflag, rnk""".stripMargin,
    "qh0_set_digest" ->
      """WITH s AS (
        |  SELECT DISTINCT l_returnflag AS f, l_suppkey AS k FROM lineitem),
        |c AS (SELECT f, count(*) AS n FROM s GROUP BY f),
        |i AS (
        |  SELECT x.f AS fa, y.f AS fb, count(*) AS icnt
        |  FROM s x JOIN s y ON x.k = y.k AND x.f < y.f
        |  GROUP BY x.f, y.f)
        |SELECT ca.f AS flag_a, cb.f AS flag_b,
        |  ca.n AS card_a,
        |  CAST(icnt AS DOUBLE) / (ca.n + cb.n - icnt) AS jac,
        |  icnt AS icard
        |FROM i JOIN c ca ON ca.f = i.fa JOIN c cb ON cb.f = i.fb
        |ORDER BY flag_a, flag_b""".stripMargin,
    "qj9_hll_estimator" ->
      """SELECT CAST(400000 AS BIGINT) AS n_distinct, TRUE AS est_ok,
        |  TRUE AS merge_identical, TRUE AS lc_ok, TRUE AS empty_ok,
        |  TRUE AS ad_ok, TRUE AS ad2_ok""".stripMargin,
    "qh1_set_digest_merge" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS card_direct,
        |  TRUE AS merge_bytes_equal
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "qh7_khll" ->
      """WITH u AS (
        |  SELECT l_partkey, count(DISTINCT l_orderkey) AS nu
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n_parts FROM u),
        |buckets AS (SELECT unnest(range(1, 9)) AS bucket),
        |c AS (SELECT LEAST(nu, 8) AS b, count(*) AS cnt FROM u GROUP BY 1)
        |SELECT tot.n_parts,
        |  (SELECT CAST(count(*) FILTER (nu <= 25) AS DOUBLE) / count(*)
        |   FROM u) AS reident25,
        |  TRUE AS merge_ok,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  coalesce(CAST(cnt AS DOUBLE) / tot.n_parts, 0.0) AS frac
        |FROM buckets LEFT JOIN c ON c.b = buckets.bucket, tot
        |ORDER BY bucket""".stripMargin
  )
}
