package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.PinotStore

/** The Pinot-shaped connector (sources/PinotBrokerConn.scala): the
  * broker-vs-segment split choice, COMPLETE aggregate pushdown (the
  * store answers finals — avg included, not decomposed), store-side
  * TopN/limit, and the segment fan-out for plain scans. */
class PinotBrokerSuite extends GraftSuite {

  // id 1..300, kind k(i%3), score i*1.0; sealed into 3 segments of 100
  private def mkTable(name: String): Unit = {
    PinotStore.drop(name)
    PinotStore.create(name, Seq(("id", LongType), ("kind", StringType),
      ("score", DoubleType)), servers = 2)
    (1 to 300).foreach { i =>
      PinotStore.ingest(name, Seq(i.toLong, s"k${i % 3}", i * 1.0))
      if (i % 100 == 0) PinotStore.seal(name)
    }
  }

  private def read(name: String) =
    spark.read.format("graft-pinot").option("table", name).load()

  test("a plain scan fans out one split per segment (routing table)") {
    val name = "pn_scan"
    mkTable(name)
    assert(PinotStore.segmentCount(name) == 3)
    val df = read(name)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 300)
    assert(df.queryExecution.executedPlan.treeString.contains(
      "mode=segment"))
  }

  test("grouped agg pushes COMPLETELY: broker split, no Spark agg") {
    val name = "pn_agg"
    mkTable(name)
    val q = read(name).groupBy("kind")
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
        avg(col("score")).as("s_avg"), min(col("id")).as("id_min"),
        max(col("id")).as("id_max"))
    val plan = q.queryExecution.executedPlan.treeString
    // complete pushdown: Spark plans NO aggregate at all — the broker
    // answered finals (the opposite of the Druid analog's partial mode)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("mode=broker"), plan)
    val before = PinotStore.rowsReturned.get()
    // sort in the test, not the plan: an orderBy would add a range-
    // partitioning sampling pass that reads the scan twice
    val rows = q.collect().sortBy(_.getString(0))
    // only the 3 FINAL group rows crossed the store boundary
    assert(PinotStore.rowsReturned.get() - before == 3)
    assert(rows.map(_.getString(0)).toSeq == Seq("k0", "k1", "k2"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(100L, 100L, 100L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(15150L, 14950L, 15050L))
    // avg arrives as ONE final number, not sum+count merged by Spark
    assert(rows.map(_.getDouble(3)).toSeq == Seq(151.5, 149.5, 150.5))
    assert(rows.map(_.getLong(4)).toSeq == Seq(3L, 1L, 2L))
    assert(rows.map(_.getLong(5)).toSeq == Seq(300L, 298L, 299L))
  }

  test("COUNT(DISTINCT) pushes whole: the store's DISTINCTCOUNT answers") {
    // the reference compiles distinct counts store-side too
    // (PinotAggregationProjectConverter's DISTINCTCOUNT family); with
    // complete pushdown Spark plans neither the Expand nor the
    // two-phase distinct rewrite — one final per group crosses the wire
    val name = "pn_dcount"
    mkTable(name)
    val q = read(name).groupBy("kind")
      .agg(countDistinct(col("score")).as("nd"),
        count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(!plan.contains("HashAggregate") && !plan.contains("Expand"),
      plan)
    assert(plan.contains("mode=broker"), plan)
    val before = PinotStore.rowsReturned.get()
    val rows = q.collect().sortBy(_.getString(0))
    assert(PinotStore.rowsReturned.get() - before == 3)
    // scores are all distinct (i*1.0) -> nd == n per group
    assert(rows.map(_.getLong(1)).toSeq == Seq(100L, 100L, 100L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(100L, 100L, 100L))
    // and a genuinely duplicated column: kind has 3 distinct values
    val total = read(name).agg(countDistinct(col("kind")).as("k"))
    assert(!total.queryExecution.executedPlan.treeString
      .contains("HashAggregate"))
    assert(total.head().getLong(0) == 3L)
  }

  test("TopN pushes whole: store sorts and caps, Spark plans no sort") {
    val name = "pn_topn"
    mkTable(name)
    val q = read(name).orderBy(col("score").desc).limit(5)
    val plan = q.queryExecution.executedPlan.treeString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      plan)
    assert(plan.contains("PushedTopN: true"), plan)
    assert(q.rdd.getNumPartitions == 1) // the single broker split
    val before = PinotStore.rowsReturned.get()
    val ids = q.select("id").collect().map(_.getLong(0)).toSeq
    assert(PinotStore.rowsReturned.get() - before == 5)
    assert(ids == Seq(300L, 299L, 298L, 297L, 296L))
    // with a pushed filter the store applies WHERE before ORDER BY
    val f = read(name).filter(col("kind") === "k1")
      .orderBy(col("id").asc).limit(3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(f == Seq(1L, 4L, 7L))
  }

  test("bare LIMIT pushes and flips to broker mode (segment mode cannot)") {
    val name = "pn_limit"
    mkTable(name)
    val q = read(name).limit(7)
    assert(q.queryExecution.executedPlan.treeString.contains(
      "PushedLimit: true"))
    assert(q.rdd.getNumPartitions == 1)
    val before = PinotStore.rowsReturned.get()
    assert(q.collect().length == 7)
    // only the capped rows crossed the boundary
    assert(PinotStore.rowsReturned.get() - before == 7)
  }

  test("predicates apply store-side; unsupported ones stay residual") {
    val name = "pn_preds"
    mkTable(name)
    val q = read(name).filter(col("kind") === "k1" && col("score") > 50.0
      && col("score") <= 150.0)
    val plan = q.queryExecution.executedPlan.treeString
    assert(!plan.contains("Filter ("), s"residual re-filter planned:\n$plan")
    assert(q.count() == 33) // i%3==1, 50 < i <= 150
    val residual = read(name).filter(col("kind").endsWith("2"))
    assert(residual.queryExecution.executedPlan.treeString
      .contains("Filter"))
    assert(residual.count() == 100)
  }

  test("an untranslatable aggregate falls back to segment-mode scan") {
    val name = "pn_fallback"
    mkTable(name)
    val q = read(name).groupBy("kind")
      .agg(stddev_samp(col("score")).as("sd"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("HashAggregate"), plan) // Spark aggregates
    assert(plan.contains("mode=segment"), plan) // per-segment fan-out
    assert(q.count() == 3)
  }

  test("a pushed TopN orders bigints as bigints, not as doubles") {
    val name = "pn_topn_long"
    PinotStore.drop(name)
    PinotStore.create(name, Seq(("v", LongType)))
    // 2^53 and 2^53 + 1 are equal as doubles
    Seq(1L << 53, (1L << 53) + 1).foreach(v => PinotStore.ingest(name, Seq(v)))
    val q = read(name).orderBy(col("v").desc).limit(1)
    assert(q.queryExecution.executedPlan.treeString.contains(
      "PushedTopN: true"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq((1L << 53) + 1))
  }
}
