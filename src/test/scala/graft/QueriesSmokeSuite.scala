package graft

/** Every driver-facing query must run at sf0.001 and produce a sane
  * result frame. Catches runtime regressions (analysis errors, registry
  * conflicts, bad casts) across the whole surface without the DuckDB
  * oracle in the loop — including session-ordering effects, since all
  * queries share one session here (see the q71 date_format shadowing
  * regression this would have caught). */
class QueriesSmokeSuite extends GraftSuite {

  // Queries that legitimately return zero rows at sf0.001 (tiny corpus:
  // no near-dup pair / threshold survivor / chain participant may
  // exist). qs3 (Q31) needs a state where web outgrew store in BOTH
  // quarter transitions; qs9 (Q17) a store buy + return + catalog
  // re-buy by one customer-item inside one quarter window — both
  // populated at sf0.01 (the oracle gate) but not in 150 customers.
  private val mayBeEmpty = Set(
    "q91_minhash_dedup", "q92_simhash_dedup", "q96_embedding_neardup",
    "qa0_doc_fingerprint", "qd9_tfidf_cosine",
    "qs3_tpcds_q31", "qs9_tpcds_q17", "qt7_tpcds_q82", "qu5_tpcds_q37",
    "qv7_tpcds_q14", "qy2_tpcds_q40", "qz2_tpcds_q80", "qz3_tpcds_q83")

  test("every query has a matching oracle or documented rows-only status") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os.diff(qs)}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, SfDir)
      assert(df.schema.fields.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a gate plans the same whichever gate ran before it") {
    // q2j answers with a literal relation. Planned on a session no gate
    // had prepared, ConvertToLocalRelation folded its projection into
    // the relation; after an earlier gate's Registry.install it did not.
    val q = SparkEntry.queries
    def plan(s: org.apache.spark.sql.SparkSession): String =
      try PlanDump.mask(q("q2j_kudu_runtime_pruning")(s, SfDir)
        .queryExecution.optimizedPlan.toString)
      finally sources.Stores.releaseAll()
    val first = plan(spark.newSession())
    val after = spark.newSession()
    q("qb5_tpch_q1_sql")(after, SfDir).collect()
    assert(plan(after) == first)
  }

  test("view query inlines: lineitem scan pruned through two view layers") {
    // qc2 reads lineitem through graft_v_rev -> graft_v_rev_by_nation;
    // Catalyst must inline both views so column pruning reaches the scan
    // (a view is a named plan, not an optimization barrier).
    val df = SparkEntry.queries("qc2_view_query")(spark, SfDir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val li = scans.find(_.contains("lineitem")).getOrElse("")
    assert(li.nonEmpty, "no lineitem scan found")
    assert(li.contains("l_extendedprice") && !li.contains("l_quantity") &&
      !li.contains("l_shipdate"),
      s"lineitem scan not pruned through views:\n$li")
  }

  test("ORC round-trip scan gets filter pushdown") {
    val df = SparkEntry.queries("qc8_orc_roundtrip")(spark, SfDir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val orc = scans.find(s => s.contains("orc") || s.contains("Orc"))
      .getOrElse("")
    assert(orc.nonEmpty, "no ORC scan found")
    assert(orc.contains("PushedFilters") && orc.contains("l_quantity"),
      s"filter not pushed to ORC scan:\n$orc")
  }

  test("bucketed join plans with no exchange under the join") {
    // qk0: both sides bucketed 8-ways on the join key — the SortMergeJoin
    // must read buckets in place. The only exchanges allowed are the ones
    // ABOVE the join (final aggregation + the orderBy range partition);
    // a third exchange means a side got reshuffled and bucketing was lost.
    val df = SparkEntry.queries("qk0_bucketed_join")(spark, SfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
    val nExchange = "Exchange".r.findAllIn(plan).size
    assert(nExchange <= 2,
      s"join side reshuffled ($nExchange exchanges):\n$plan")
  }

  test("Q21's EXISTS/NOT EXISTS plan as semi/anti hash joins") {
    // the scale contract for the TPC-H texts: correlated EXISTS must
    // decorrelate to set-based joins, never a per-row subquery loop
    val plan = SparkEntry.queries("qg8_tpch_q21_sql")(spark, SfDir)
      .queryExecution.executedPlan.treeString
    assert(plan.contains("LeftSemi"), s"no semi join:\n${plan.take(1500)}")
    assert(plan.contains("LeftAnti"), s"no anti join:\n${plan.take(1500)}")
  }

  test("Q2's correlated MIN decorrelates into an aggregate join") {
    val plan = SparkEntry.queries("qf4_tpch_q2_sql")(spark, SfDir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("scalar-subquery"),
      s"correlated subquery survived optimization:\n${plan.take(1500)}")
  }

  test("no query plans a CartesianProduct") {
    // The scale contract: candidate generation and scoring are broadcast
    // or bucket equi-joins; an unbroadcast all-pairs join would appear
    // here as CartesianProductExec. (BroadcastNestedLoopJoin with a tiny
    // probe side is fine and intended for q94/qb7/q19.)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, SfDir).queryExecution.executedPlan.treeString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("TPC-DS channel facts scan materialized parquet, not the derivation join") {
    // a query materializes the channel facts it names once per
    // (session, dir) — queries must plan a columnar FileScan over the materialized
    // files (pushdown applies there), not re-pay the lineitem⋈orders
    // derivation per reference. inventory stays generated by design.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanPaths(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.mkString(","))
      case other => other.children.flatMap(scanPaths)
    }
    val scans = scanPaths(SparkEntry.queries("qo1_tpcds_q7")(spark, SfDir)
      .queryExecution.executedPlan)
    assert(scans.exists(_.contains("graft_tpcds_mat")),
      s"store_sales not materialized; scans: $scans")
    assert(!scans.exists(_.contains("lineitem")),
      s"channel-fact query still scans the lineitem derivation: $scans")
  }

  test("derived fact views carry fact-scale size estimates") {
    // The r7 inventory lesson: explode(sequence()) on a one-row
    // relation collapsed the 208x fan-out to a ~one-scan estimate and
    // Catalyst BROADCAST the 4.2M-row derived fact — the exact mistake
    // that melts a driver at 100 TB. Broadcast choices are
    // estimate-driven, so the testable invariant is estimate HONESTY:
    // a derived fact's sizeInBytes must carry its fan-out over the
    // base scan.
    SparkEntry.queries("qu6_tpcds_q22")(spark, SfDir) // registers views
    def est(table: String): BigInt =
      spark.table(table).queryExecution.optimizedPlan.stats.sizeInBytes
    val partEst = est("part")
    assert(est("inventory") > partEst * 50,
      s"inventory estimate ${est("inventory")} does not carry the " +
        s"208x fan-out over part ($partEst)")
    assert(est("partsupp") > partEst,
      s"partsupp estimate ${est("partsupp")} does not carry the 4x " +
        s"fan-out over part ($partEst)")
    // negative control: the BUGGY derivation style (explode on a
    // one-row relation) genuinely undercounts — proving this test
    // discriminates and would fail on a regression to that style
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW graft_bad_fanout AS
        |SELECT p_partkey, w FROM part
        |CROSS JOIN (SELECT explode(sequence(1, 52)) AS w)""".stripMargin)
    assert(est("graft_bad_fanout") < partEst * 50,
      "explode-derived view unexpectedly carries fan-out stats — " +
        "update this test's premise")
  }

  // NOTE: a suite-wide "nothing big under BroadcastExchange" sweep was
  // prototyped here and dropped: Catalyst's broadcast choices are
  // size-driven and correct at every SF (a 2 MB filtered fact SHOULD
  // broadcast at sf0.1), and logical estimates downstream of
  // explode/window chains are unreliable in both directions (the
  // deliberately-hinted, bucket-cap-bounded dedup candidate sets read
  // as 175 MB). The testable invariant for the r7 inventory bug class
  // is the estimate-honesty test above.

  // ——— r8: plan guards for the most expensive TPC-DS queries ————————
  // Converts the "plans a cluster wants" claim from prose to CI: for
  // each of the five slowest TPC-DS shapes, assert the join/Expand
  // composition that makes the plan scale — dimensions broadcast, no
  // fact-fact nested-loop joins, ROLLUP as a single Expand. The only
  // BroadcastNestedLoopJoins allowed are the Cross joins of the derived
  // inventory generator (part × tiny literal week sequences).

  private def guards(name: String, scalarCrosses: Int = 0)
      (f: (String, String => Int) => Unit): Unit =
    test(s"$name plan guard") {
      val plan = SparkEntry.queries(name)(spark, SfDir)
        .queryExecution.executedPlan.treeString
      def n(p: String) = p.r.findAllIn(plan).size
      // universal: no all-pairs joins; any nested-loop join must be a
      // Cross over the inventory generator's literal sequences — except
      // up to `scalarCrosses` Inner nested loops stitching SINGLE-ROW
      // aggregate results (Q88's eight scalar time-band counts), which
      // print as Inner but move one row per side by construction
      assert(n("CartesianProduct") == 0, s"CartesianProduct:\n$plan")
      val bnlj = plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      val nonCross = bnlj.filterNot(_.contains("Cross"))
      assert(nonCross.size <= scalarCrosses,
        s"non-generator BroadcastNestedLoopJoin:\n${bnlj.mkString("\n")}")
      f(plan, n)
    }

  guards("qu6_tpcds_q22") { (plan, n) =>
    // inventory × date_dim × item: both dims broadcast, 4-level ROLLUP
    // is ONE Expand (×5) into one hash aggregate
    assert(n("BroadcastHashJoin") == 2, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
    assert(n("Expand") == 1, s"ROLLUP not a single Expand:\n$plan")
  }

  guards("qt6_tpcds_q72") { (plan, n) =>
    // catalog_sales ⋈ inventory (non-equi residual on an equi key) plus
    // broadcast dims; no shuffle join anywhere
    assert(n("BroadcastHashJoin") >= 3, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
  }

  guards("qw1_tpcds_q75") { (plan, n) =>
    // three channel sales-LEFT-JOIN-returns branches with broadcast
    // item/date_dim; the only merge join tolerated is the year-over-
    // year self-join of the two (small) aggregated sides
    assert(n("BroadcastHashJoin") >= 6, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 1, s"fact join reshuffled:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
  }

  guards("qv7_tpcds_q14") { (plan, n) =>
    // the biggest shape on the board (cross_items intersection + three
    // channel branches + ROLLUP): dims broadcast, ROLLUP one Expand;
    // merge joins appear only in the distinct-intersection pipeline
    assert(n("BroadcastHashJoin") >= 20, s"dims not broadcast:\n$plan")
    assert(n("Expand") == 1, s"ROLLUP not a single Expand:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
    assert(n("SortMergeJoin") <= 20, s"join composition drifted:\n$plan")
  }

  guards("qu1_tpcds_q4") { (plan, n) =>
    // year-over-year customer totals across three channels: every join
    // either broadcasts a dim or joins aggregated (small) sides
    assert(n("BroadcastHashJoin") >= 8, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
  }

  guards("qx4_tpcds_q56") { (plan, n) =>
    // three channel branches x (item-by-color semi + date_dim + addr):
    // every dimension broadcasts, no shuffle joins anywhere
    assert(n("BroadcastHashJoin") >= 12, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
  }

  guards("qx9_tpcds_q76") { (plan, n) =>
    // three channel scans unioned with broadcast item/date_dim
    assert(n("BroadcastHashJoin") >= 6, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
  }

  // ——— r10: plan guards for the next bench tier (the five >1.2 s
  // queries the r9 verdict flagged as unguarded) ————————————————————————

  guards("qy7_tpcds_q24") { (plan, n) =>
    // store_sales ⋈ store_returns on (ticket, item) with every
    // dimension broadcast; the customer/item aggregation never falls
    // back to a shuffle join
    assert(n("BroadcastHashJoin") >= 8, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
  }

  guards("qr8_tpcds_q67") { (plan, n) =>
    // 8-level ROLLUP over store_sales: ONE Expand into the aggregate,
    // rank() computed once (no duplicated window subtrees), dims
    // broadcast, no shuffle joins
    assert(n("Expand") == 1, s"ROLLUP not a single Expand:\n$plan")
    assert(n("Window") <= 3, s"window recomputed:\n$plan")
    assert(n("BroadcastHashJoin") >= 2, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
  }

  guards("qw7_tpcds_q64") { (plan, n) =>
    // the cross_sales twice-joined monster: dims all broadcast; merge
    // joins only where two fact-scale sides genuinely meet —
    // store_sales ⋈ store_returns, the cs_ui catalog subquery, and the
    // year-over-year self-join of the two aggregated branches
    assert(n("BroadcastHashJoin") >= 14, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 3, s"fact join reshuffled:\n$plan")
  }

  guards("qv8_tpcds_q49") { (plan, n) =>
    // three channel return-ratio branches: sales LEFT JOIN returns
    // broadcast (returns are the 10%-of-sales side), two ranks per
    // branch and nothing recomputed
    assert(n("BroadcastHashJoin") >= 6, s"joins not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
    assert(n("Window") <= 6, s"rank windows recomputed:\n$plan")
  }

  guards("qs0_tpcds_q23") { (plan, n) =>
    // frequent_ss_items / best_ss_customer feeding catalog+web branches:
    // dims broadcast; merge joins only between aggregated (shrunk)
    // sides, never a raw-fact reshuffle
    assert(n("BroadcastHashJoin") >= 10, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 4, s"aggregated-side joins drifted:\n$plan")
  }

  // ——— r11: guards for the next bench tier (qz0/qs3/qr7) ——————————————
  guards("qz0_tpcds_q58") { (plan, n) =>
    // three per-channel item revenues around a single-day date
    // subquery: item/date_dim broadcast into every fact branch; the
    // only merge joins tolerated are the two between aggregated
    // (item_id-grain, small) channel results — a raw fact never
    // reshuffles
    assert(n("BroadcastHashJoin") >= 9, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 2, s"fact join reshuffled:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
  }

  guards("qs3_tpcds_q31") { (plan, n) =>
    // six county-quarter aggregates (3 store + 3 web quarters) chained
    // on county: date_dim/customer_address broadcast under every
    // branch; merge joins only between the aggregated county-grain
    // sides (5 joins chain 6 branches)
    assert(n("BroadcastHashJoin") >= 10, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 5, s"aggregated-side joins drifted:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
  }

  guards("qr7_tpcds_q47") { (plan, n) =>
    // v1 (monthly category/brand/store sales + yearly-avg and rank
    // windows) self-joined against its rank±1 neighbors: dims broadcast
    // under the fact aggregate; windows stay bounded (partition-local
    // sort, no global sort); the self-joins run on the aggregated
    // (category-grain) side only
    assert(n("BroadcastHashJoin") >= 6, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 2, s"self-join drifted to facts:\n$plan")
    assert(n("Window") <= 4 && n("Window") >= 2,
      s"window composition drifted:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0, s"nested loop join:\n$plan")
  }

  // ——— r11b: guards for the remaining unguarded bench tier ————————————
  guards("qr2_tpcds_q88", scalarCrosses = 7) { (plan, n) =>
    // eight time-band store_sales aggregates cross-joined: every
    // band's dims (household_demographics/time_dim/store) broadcast;
    // the only nested-loop joins are the seven single-row crosses
    // stitching the eight scalar results — a raw fact never reshuffles
    assert(n("BroadcastHashJoin") >= 12, s"dims not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"unexpected shuffle join:\n$plan")
    assert(n("BroadcastNestedLoopJoin") <= 7,
      s"more than the 7 scalar crosses:\n$plan")
  }

  guards("q91_minhash_dedup") { (plan, n) =>
    // banded MinHash-LSH: candidate pairs come from the (band, bucket)
    // EQUI-join — hash-partitioned, never a nested-loop/cartesian pair
    // blowup; the verify pass is projection work on the joined rows
    assert(n("BroadcastNestedLoopJoin") == 0, s"pair join degraded:\n$plan")
    assert(n("SortMergeJoin") + n("ShuffledHashJoin") +
      n("BroadcastHashJoin") >= 1, s"no equi-join planned:\n$plan")
  }

  guards("q2e_pq_ann") { (plan, n) =>
    // PQ's ADC path: the code table joins the broadcast per-probe
    // distance table and the broadcast codebook — a vector never
    // shuffles; the only exchanges move code-grain aggregates
    assert(n("BroadcastHashJoin") >= 2, s"ADC join not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"vector-side shuffle join:\n$plan")
  }

  guards("q2q_mysql_dialect") { (plan, n) =>
    // the read half scans the MySQL-shim JDBC relation with the range
    // predicate compiled remote-side (the dialect's backtick SQL);
    // q2r's agg/TopN pushdown is locked by its runtime booleans plus
    // MySqlShimSuite's PushedAggregates assert (its gate returns
    // literals, so there is no scan in ITS final plan to guard)
    assert(plan.contains("JDBCRelation"), s"not a JDBC scan:\n$plan")
    assert(plan.contains("PushedFilters: [*GreaterThan(l_orderkey,100)") ||
      (plan.contains("PushedFilters") && plan.contains("l_orderkey")),
      s"range predicate not pushed:\n$plan")
  }

  guards("q3c_exactsubstr_dedup") { (plan, n) =>
    // the seed join is keyed on the gram — an equi-join (SMJ/SHJ over
    // the gram shuffle), NEVER a nested-loop; the tiny per-source
    // aggregates at the top may broadcast
    assert(n("SortMergeJoin") + n("ShuffledHashJoin") +
      n("BroadcastHashJoin") >= 1, s"no equi-join planned:\n$plan")
    assert(n("BroadcastNestedLoopJoin") == 0 &&
      n("CartesianProduct") == 0, s"non-keyed join in seed path:\n$plan")
  }

  guards("q3i_agg_order_by") { (plan, n) =>
    // ordered aggregates rewrite to sorted-struct transforms INSIDE the
    // existing aggregation — no join, no window, no extra exchange
    // beyond the one grouping shuffle
    assert(n("Join") == 0, s"ordered agg planned a join:\n$plan")
    assert(n("Window") == 0, s"ordered agg planned a window:\n$plan")
    assert(n("Exchange") <= 2, s"extra shuffles:\n$plan")
  }

  guards("q2z_sqlserver_dialect") { (plan, n) =>
    // the read half scans the SQL-Server-shim JDBC relation with the
    // range predicate compiled remote (the dialect's double-quoted
    // T-SQL); q3a's agg/TOP pushdown is locked by its runtime booleans
    // plus MsShimSuite's PushedAggregates assert
    assert(plan.contains("JDBCRelation"), s"not a JDBC scan:\n$plan")
    assert(plan.contains("PushedFilters: [*GreaterThan(l_orderkey,100)") ||
      (plan.contains("PushedFilters") && plan.contains("l_orderkey")),
      s"range predicate not pushed:\n$plan")
  }

  guards("q2v_postgres_dialect") { (plan, n) =>
    // same stance as q2q on the THIRD dialect: the read half scans the
    // Postgres-shim JDBC relation with the range predicate compiled
    // remote (the dialect's double-quoted SQL); q2w's agg/TopN/OFFSET/
    // TABLESAMPLE pushdown is locked by its runtime booleans plus
    // PgShimSuite's PushedAggregates assert (its gate returns literals,
    // so there is no scan in ITS final plan to guard)
    assert(plan.contains("JDBCRelation"), s"not a JDBC scan:\n$plan")
    assert(plan.contains("PushedFilters: [*GreaterThan(l_orderkey,100)") ||
      (plan.contains("PushedFilters") && plan.contains("l_orderkey")),
      s"range predicate not pushed:\n$plan")
  }

  guards("q2k_ivf_pq") { (plan, n) =>
    // composed IVF-PQ: the cell filter (broadcast candidate-id join)
    // must sit BEFORE the ADC lookup join — codes join the broadcast
    // candidates and the broadcast distance table; vectors and codes
    // never shuffle-join (the full-corpus-ADC regression would need
    // either a shuffle join or a missing candidate join, and the
    // gate's counted cells_ok bar catches the latter at runtime)
    assert(n("BroadcastHashJoin") >= 4,
      s"cell-filter/ADC joins not broadcast:\n$plan")
    // the only merge joins tolerated are the probe-grain verification
    // stitches (exact ⋈ rank-ok, answer ⋈ brute ranks — both keyed on
    // the 10-row probe_id set); the index path itself is all-broadcast
    assert(n("SortMergeJoin") <= 2, s"vector-side shuffle join:\n$plan")
  }

  guards("q2h_curation_pipeline") { (plan, n) =>
    // the composed curation pipeline: scoring/gating/sharding are
    // map-side; the dedup window sits behind the stage checkpoint, so
    // the visible plan carries ONLY the per-source cap window; the
    // decontamination screen joins the broadcast eval-gram table — no
    // fact-scale shuffle join anywhere ("Window \\[" counts node
    // headers, not expression mentions)
    assert(n("Window \\[") == 1, s"extra window shuffle:\n$plan")
    assert(n("BroadcastHashJoin") >= 1, s"gram screen not broadcast:\n$plan")
    assert(n("SortMergeJoin") <= 1, s"pipeline join drifted:\n$plan")
  }

  test("qj0 SHOW STATS per-column passes prune and pre-aggregate") {
    // SHOW STATS costs one count + one aggregate pass per column (the
    // §2.4 lesson: packing countDistincts into one aggregate plans an
    // Expand of row x N — measured 4x slower). The returned statement
    // result is a LocalRelation, so this guard locks the plan shape of
    // the expensive work itself: a per-column NDV pass must (a) prune
    // the scan to THAT column and (b) plan partial_count(distinct ...)
    // map-side — the shape that scales to a 100 TB column.
    import org.apache.spark.sql.functions._
    Tables.register(spark, SfDir)
    val pass = spark.table("lineitem")
      .agg(count(col("l_quantity")), countDistinct(col("l_quantity")),
        min(col("l_quantity")).cast("string"),
        max(col("l_quantity")).cast("string"))
    val formatted = pass.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("ReadSchema: struct<l_quantity:double>"),
      s"stats pass did not prune to the target column:\n$formatted")
    val plan = pass.queryExecution.executedPlan.treeString
    assert(plan.contains("partial_count(distinct"),
      s"NDV not partially aggregated map-side:\n$plan")
    assert(!plan.contains("Expand"),
      s"stats pass planned an Expand (the 4x-slower shape):\n$plan")
    // and the statement itself stays green end-to-end
    val rows = SparkEntry.queries("qj0_show_stats")(spark, SfDir).collect()
    assert(rows.length == 5) // 4 columns + the row_count summary row
  }

  test("bucketed table prunes to one bucket on an equality key") {
    // the flip side of qk0's shuffle-free join: a point predicate on
    // the bucketing key must read ONE bucket's files, not all 8 — at
    // 100 TB that is 1/8th of the scan for free
    SparkEntry.queries("qk0_bucketed_join")(spark, SfDir) // builds tables
    val suffix = Integer.toHexString(SfDir.hashCode)
    // auto-bucketed-scan turns bucketing off for filter-only plans (no
    // shuffle to save); disable it so the scan stays bucketed and the
    // point predicate can prune
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plan = spark.table(s"graft_li_b_$suffix")
        .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
        .queryExecution.executedPlan.treeString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning did not engage:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("q1k aggregates are pushed INTO the JDBC source") {
    // the druid/pinot-connector mechanic: the grouped count/sum/min/max
    // must compile into the remote scan (PushedAggregates in the scan
    // node), so the JDBC source returns groups, not rows
    val plan = SparkEntry.queries("q1k_jdbc_agg_pushdown")(spark, SfDir)
      .queryExecution.executedPlan.treeString
    assert(plan.contains("PushedAggregates"),
      s"aggregates not pushed into the JDBC scan:\n$plan")
    assert(plan.contains("PushedGroupByExpressions"),
      s"group-by not pushed into the JDBC scan:\n$plan")
  }

  test("q1s variance-family aggregates are pushed INTO the JDBC source") {
    // the pinot/druid statistical-aggregation conversion: VAR/STDDEV
    // compile into the remote scan alongside count/avg — the store
    // returns one row per group, not rows
    val plan = SparkEntry.queries("q1s_jdbc_stats_pushdown")(spark, SfDir)
      .queryExecution.executedPlan.treeString
    assert(plan.contains("PushedAggregates"),
      s"aggregates not pushed into the JDBC scan:\n$plan")
    assert(plan.contains("VAR_SAMP") && plan.contains("STDDEV_SAMP"),
      s"variance family not in the pushed aggregate list:\n$plan")
  }

  test("q1q limit and TopN are pushed INTO the JDBC source") {
    // the pinot/druid limit-into-scan mechanic via GraftDerbyDialect's
    // FETCH FIRST support: ORDER BY + LIMIT compiles into the remote
    // query (PushedTopN) and a bare LIMIT caps the remote scan — rows
    // never cross the wire unsorted or uncapped
    SparkEntry.queries("q1q_jdbc_topn_pushdown")(spark, SfDir) // fixture
    val topn = spark.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_jdbc3.APP.ORD_ROWS
        |ORDER BY o_totalprice DESC LIMIT 7""".stripMargin)
      .queryExecution.executedPlan.treeString
    assert(topn.toLowerCase.contains("pushedtopn"),
      s"TopN not pushed into the JDBC scan:\n$topn")
    val bare = spark.sql(
      "SELECT o_orderkey FROM graft_jdbc3.APP.ORD_ROWS LIMIT 9")
      .queryExecution.executedPlan.treeString
    assert(bare.toLowerCase.contains("pushedlimit"),
      s"LIMIT not pushed into the JDBC scan:\n$bare")
  }

  test("q2i OFFSET is pushed INTO the JDBC source with the TopN") {
    // the paging trio's third leg: ORDER BY + LIMIT + OFFSET compiles
    // whole into the remote query — the skipped prefix never crosses
    // the wire
    SparkEntry.queries("q2i_jdbc_offset_pushdown")(spark, SfDir) // fixture
    val page = spark.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_jdbc4.APP.ORD_OFF
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 5 OFFSET 15""".stripMargin)
      .queryExecution.executedPlan.treeString
    assert(page.toLowerCase.contains("pushedoffset"),
      s"OFFSET not pushed into the JDBC scan:\n$page")
    assert(page.toLowerCase.contains("pushedtopn"),
      s"TopN not pushed with the offset:\n$page")
  }

  // ——— r8c: plan guards for the new pipeline operators ————————————————
  guards("q0w_dsir_resample") { (plan, n) =>
    // DSIR: the 256-row bucket-weight table joins back BROADCAST (never
    // a shuffle of the token table on b), and selection is a TopN
    // (TakeOrderedAndProject), never a global sort of all scores
    assert(n("BroadcastHashJoin") >= 1, s"lw join not broadcast:\n$plan")
    assert(n("SortMergeJoin") == 0, s"token table reshuffled:\n$plan")
    assert(n("TakeOrderedAndProject") == 1, s"selection not TopN:\n$plan")
  }

  test("q0y_pca projection is map-only over the scan") {
    // the projection the model serves at scale: broadcast literal
    // components via codegen'd vec_dot — no join, no shuffle before
    // the gate's final single aggregate
    val raw = graft.Tables.view(spark, SfDir, "embeddings")
    val model = graft.operators.Pca.fit(raw,
      org.apache.spark.sql.functions.col("embedding"), 8)
    val plan = graft.operators.Pca.project(raw,
      org.apache.spark.sql.functions.col("embedding"), model)
      .queryExecution.executedPlan.treeString
    assert(!plan.contains("Join"), s"projection joins:\n$plan")
    assert(!plan.contains("Exchange"), s"projection shuffles:\n$plan")
    assert(plan.contains("vec_dot"), s"projection not on vec_dot:\n$plan")
  }
}
