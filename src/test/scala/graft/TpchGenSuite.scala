package graft

import org.apache.spark.sql.functions._

/** DataSource V2 contract tests for the graft-tpch generator connector
  * (sources/TpchGen.scala): registration, determinism, column pruning,
  * and key pushdown that prunes GENERATION (partitions and rows). */
class TpchGenSuite extends GraftSuite {

  private def gen(table: String, sf: String = "0.01") =
    spark.read.format("graft-tpch")
      .option("table", table).option("sf", sf).option("parts", "8").load()

  test("shortName resolves and row counts follow the scale factor") {
    assert(gen("lineitem").count() == 60000L)
    assert(gen("orders").count() == 15000L)
    assert(gen("customer").count() == 1500L)
    assert(gen("supplier").count() == 100L)
    assert(gen("part").count() == 2000L)
    assert(gen("nation").count() == 25L)
    assert(gen("region").count() == 5L)
    assert(gen("orders", "0.001").count() == 1500L)
  }

  test("generation is deterministic and referentially intact") {
    val a = gen("lineitem").agg(sum(col("l_partkey"))).collect()(0).getLong(0)
    val b = gen("lineitem").agg(sum(col("l_partkey"))).collect()(0).getLong(0)
    assert(a == b)
    // every foreign key hits its dimension (inner-join row counts keep
    // the fact cardinality)
    val li = gen("lineitem")
    assert(li.join(gen("part"), col("l_partkey") === col("p_partkey"))
      .count() == 60000L)
    assert(li.join(gen("supplier"), col("l_suppkey") === col("s_suppkey"))
      .count() == 60000L)
    assert(gen("orders")
      .join(gen("customer"), col("o_custkey") === col("c_custkey"))
      .count() == 15000L)
  }

  test("key pushdown prunes generated partitions and rows") {
    val full = gen("orders")
    val filtered = full.filter(col("o_orderkey") <= 1000)
    // the filter is absorbed by the scan (pruned generation), so the
    // physical plan carries it in the scan description, the row count
    // shrinks, and the partition count drops below the full scan's
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("graft-tpch"), plan)
    assert(plan.contains("PushedFilters: [LessThanOrEqual(o_orderkey,1000)"),
      plan)
    assert(filtered.count() == 1000L)
    // a narrower range than the partition count collapses partitions
    val tiny = full.filter(col("o_orderkey") <= 4)
    assert(tiny.rdd.getNumPartitions < full.rdd.getNumPartitions,
      s"${tiny.rdd.getNumPartitions} vs ${full.rdd.getNumPartitions}")
    // equality pins a single row without scanning the keyspace
    val one = full.filter(col("o_orderkey") === 42)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.collect().map(_.getAs[Long]("o_orderkey")).toSeq == Seq(42L))
    // lineitem's 4-rows-per-key map holds under pushdown
    assert(gen("lineitem").filter(col("l_orderkey") === 7).count() == 4L)
    // non-key predicates stay with Spark and still answer correctly
    val rf = gen("lineitem").filter(col("l_returnflag") === "A").count()
    assert(rf > 15000L && rf < 25000L, s"rf=$rf")
  }

  test("catalog spelling: graft_tpch.tiny.* resolves, lists, stays read-only") {
    // Presto's `tpch.tiny.orders` spelling through the DSv2 TableCatalog
    assert(spark.sql("SELECT count(*) AS n FROM graft_tpch.tiny.orders")
      .collect()(0).getLong(0) == 15000L)
    assert(spark.sql("SELECT count(*) AS n FROM graft_tpch.sf1.region")
      .collect()(0).getLong(0) == 5L)
    val tbls = spark.sql("SHOW TABLES IN graft_tpch.tiny")
      .collect().map(_.getString(1)).toSet
    assert(tbls == Set("lineitem", "orders", "customer", "supplier",
      "part", "nation", "region"))
    val ns = spark.sql("SHOW NAMESPACES IN graft_tpch")
      .collect().map(_.getString(0)).toSet
    assert(ns.contains("tiny") && ns.contains("sf1"))
    // pushdown works through the catalog path too
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_tpch.tiny.orders WHERE o_orderkey <= 7")
      .collect()(0).getLong(0) == 7L)
    // read-only: DDL fails loudly
    val e = intercept[Exception] {
      spark.sql("DROP TABLE graft_tpch.tiny.orders")
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("column pruning reaches the generator scan") {
    val df = gen("lineitem").select(col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("l_quantity"), scan)
    assert(!scan.contains("l_extendedprice"), scan)
  }

  test("reported statistics auto-broadcast the small generated side") {
    // no explicit broadcast() hint: nation (25 rows, ~1 KB reported via
    // SupportsReportStatistics) must land under the broadcast threshold
    // while the orders side stays the probe
    val orders = gen("orders")
    val nation = gen("nation")
    val joined = orders.join(nation,
      orders("o_custkey") % 25 === nation("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // pruning shrinks the reported size too: a key-bounded orders scan
    // becomes broadcastable
    val small = gen("orders").filter(col("o_orderkey") <= 100)
    val j2 = gen("lineitem").join(small,
      col("l_orderkey") === col("o_orderkey"))
    val p2 = j2.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), p2)
  }

  test("key bounds at the ends of bigint do not wrap") {
    // a bound past Long.MaxValue / Long.MinValue is absorbed by the scan,
    // so a wrapped `> MaxValue` once generated the whole table
    val orders = spark.table("graft_tpch.tiny.orders")
    def n(f: org.apache.spark.sql.Column) = orders.filter(f).count()
    assert(n(col("o_orderkey") > lit(Long.MaxValue)) == 0L)
    assert(n(col("o_orderkey") < lit(Long.MinValue)) == 0L)
    assert(n(col("o_orderkey") <= lit(Long.MaxValue)) == 15000L)
    assert(n(col("o_orderkey") >= lit(Long.MinValue)) == 15000L)
  }
}
