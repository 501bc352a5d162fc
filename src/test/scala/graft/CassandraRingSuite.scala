package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.CassStore

/** The Cassandra-shaped connector (sources/CassandraRingConn.scala):
  * token-range split planning, split-level partition pruning with the
  * IN-batch merge, the prefix-ordered clustering pushdown, upsert write
  * semantics, and the sorted-slice reads. */
class CassandraRingSuite extends GraftSuite {

  private def mkTable(name: String): Unit = {
    CassStore.drop(name)
    CassStore.create(name,
      partitionKeys = Seq("user"), clusteringKeys = Seq("day", "seq"),
      fields = Seq("user" -> StringType, "day" -> LongType,
        "seq" -> LongType, "v" -> DoubleType))
    for (u <- 1 to 200; d <- 1 to 3; q <- 1 to 2)
      CassStore.upsert(name, Seq(s"u$u", d.toLong, q.toLong,
        u * 100.0 + d * 10 + q))
  }

  private def read(name: String) =
    spark.read.format("graft-cassandra").option("table", name).load()

  test("token ranges cover the ring exactly once; split formula holds") {
    // CassandraTokenSplitManager: max(partitions / splitSize, 1)
    assert(CassStore.tokenRangeCount(200, 64) == 3)
    assert(CassStore.tokenRangeCount(10, 64) == 1)
    val ranges = CassStore.tokenRanges(3)
    assert(ranges.head._1 == -1L && ranges.last._2 == Long.MaxValue)
    // adjacent (start, end] ranges tile without gap or overlap
    ranges.sliding(2).foreach { case Seq((_, e1), (s2, _)) =>
      assert(e1 == s2)
    }
    // every token lands in exactly one range
    val toks = (1 to 1000).map(i => CassStore.token(Seq(s"u$i")))
    toks.foreach { t =>
      assert(ranges.count { case (s, e) => t > s && t <= e } == 1)
    }
  }

  test("unpruned scan plans token-range splits; rows come back complete") {
    mkTable("ct_scan")
    val df = read("ct_scan")
    assert(df.rdd.getNumPartitions == 3) // 200 partitions / 64 -> 3
    assert(df.count() == 200 * 3 * 2)
    // splitSize knob drives the fan-out, like splits-per-node
    val wide = spark.read.format("graft-cassandra")
      .option("table", "ct_scan").option("split.size", "16").load()
    assert(wide.rdd.getNumPartitions == 12)
  }

  test("a fully-bound partition key prunes to partition splits") {
    mkTable("ct_prune")
    // point lookup: ONE split, six rows, equality served exactly
    val one = read("ct_prune").filter(col("user") === "u7")
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 6)
    val plan = one.queryExecution.executedPlan.treeString
    assert(plan.contains("partitions=1"), plan)
    assert(!plan.contains("tokenScan"), plan)
    // IN on the single-column key batches partitionSizeForBatchSelect
    // (100) values per split: 150 partitions -> 2 splits
    val many = read("ct_prune")
      .filter(col("user").isin((1 to 150).map(i => s"u$i"): _*))
    assert(many.rdd.getNumPartitions == 2)
    assert(many.count() == 150 * 6)
    // a partially-bound composite key cannot prune (CQL's rule)
    CassStore.drop("ct_comp")
    CassStore.create("ct_comp", Seq("a", "b"), Seq.empty,
      Seq("a" -> LongType, "b" -> LongType, "v" -> LongType))
    (1L to 40L).foreach(i => CassStore.upsert("ct_comp", Seq(i % 4, i, i)))
    val partial = read("ct_comp").filter(col("a") === 1L)
    assert(partial.queryExecution.executedPlan.treeString
      .contains("tokenScan"))
    assert(partial.count() == 10) // residual filter still applied
    // fully bound composite key -> one split per partition (no batch)
    val comp = read("ct_comp")
      .filter(col("a").isin(1L, 2L) && col("b").isin(1L, 2L, 5L, 6L))
    assert(comp.rdd.getNumPartitions == 8)
    assert(comp.count() == 4) // (1,1) (2,2) (1,5) (2,6)
  }

  test("clustering predicates push as a prefix and slice the partition") {
    mkTable("ct_slice")
    // eq on first clustering col + range on second: fully pushed slice
    val q = read("ct_slice").filter(col("user") === "u3" &&
      col("day") === 2L && col("seq") >= 2L)
    val plan = q.queryExecution.executedPlan.treeString
    assert(!plan.contains("Filter ("), s"slice should be exact:\n$plan")
    val rows = q.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("v") == 322.0)
    // range on the FIRST clustering col: pushed, later cols untouched
    assert(read("ct_slice").filter(col("user") === "u3" &&
      col("day") > 1L).count() == 4)
    // predicate on a LATER clustering col without the prefix: CQL
    // cannot serve it from the sort order -> residual Spark filter,
    // result still exact
    val skip = read("ct_slice").filter(col("user") === "u3" &&
      col("seq") === 2L)
    assert(skip.queryExecution.executedPlan.treeString.contains("Filter"),
      "out-of-prefix clustering predicate must stay residual")
    assert(skip.count() == 3)
  }

  test("writes are primary-key upserts (Cassandra INSERT semantics)") {
    import spark.implicits._
    CassStore.drop("ct_write")
    CassStore.create("ct_write", Seq("k"), Seq("c"),
      Seq("k" -> StringType, "c" -> LongType, "v" -> DoubleType))
    Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 3.0))
      .toDF("k", "c", "v")
      .write.mode("append").format("graft-cassandra")
      .option("table", "ct_write").save()
    // re-insert (a, 1) with a new value: overwrite, not duplicate
    Seq(("a", 1L, 9.0)).toDF("k", "c", "v")
      .write.mode("append").format("graft-cassandra")
      .option("table", "ct_write").save()
    val rows = read("ct_write").orderBy("k", "c").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 1L, 9.0), ("a", 2L, 2.0), ("b", 1L, 3.0)))
    // rows inside a partition come back clustering-sorted
    Seq(("c", 5L, 1.0), ("c", 2L, 1.0), ("c", 9L, 1.0), ("c", 3L, 1.0))
      .toDF("k", "c", "v")
      .write.mode("append").format("graft-cassandra")
      .option("table", "ct_write").save()
    val cs = read("ct_write").filter(col("k") === "c")
      .select("c").collect().map(_.getLong(0)).toSeq
    assert(cs == Seq(2L, 3L, 5L, 9L))
  }

  test("exact statistics let a pruned point lookup broadcast") {
    mkTable("ct_bc")
    val dim = read("ct_bc").filter(col("user") === "u5")
      .select(col("day"), col("v"))
    val fact = spark.range(0, 4000).toDF("id")
      .withColumn("day", col("id") % 3 + 1)
    val plan = fact.join(dim, "day").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"point lookup should broadcast:\n$plan")
  }

  test("a selective dim join converts the token scan to partition " +
      "splits at RUNTIME") {
    // CQL's fully-bound pruning rule applied dynamically: the build
    // side's user keys arrive as a runtime In-filter, and the scan
    // that PLANNED as a ring scan executes as partition-key splits
    mkTable("ct_runtime")
    val dim = spark.range(1, 51)
      .select(concat(lit("u"), col("id")).as("user"),
        (col("id") % 25).as("tag"))
      .filter(col("tag") === 3) // keeps u3 and u28
    val joined = read("ct_runtime").join(broadcast(dim), Seq("user"))
    val tokBefore = CassStore.tokenSplitsOpened.get()
    val pkBefore = CassStore.partitionSplitsOpened.get()
    assert(joined.count() == 12) // 2 users x 3 days x 2 seqs
    assert(CassStore.tokenSplitsOpened.get() == tokBefore,
      "runtime filter did not cancel the token scan")
    assert(CassStore.partitionSplitsOpened.get() > pkBefore,
      "no partition splits opened")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [user"),
      s"no runtime filter on the scan:\n$plan")
  }

  test("every range bound on a clustering column holds, in any order") {
    val name = "ct_bounds"
    CassStore.drop(name)
    CassStore.create(name, partitionKeys = Seq("user"),
      clusteringKeys = Seq("day"),
      fields = Seq("user" -> StringType, "day" -> LongType))
    (1 to 10).foreach(d => CassStore.upsert(name, Seq("u1", d.toLong)))
    def n(f: org.apache.spark.sql.Column) =
      read(name).filter(col("user") === "u1" && f).count()
    // both bounds are pushed, so Spark does not re-apply either
    assert(n(col("day") > 5L && col("day") > 3L) == 5)
    assert(n(col("day") > 3L && col("day") > 5L) == 5)
    assert(n(col("day") < 4L && col("day") <= 8L) == 3)
    assert(n(col("day") > 5L && col("day") < 3L) == 0)
  }
}
