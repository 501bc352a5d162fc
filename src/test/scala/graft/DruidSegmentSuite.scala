package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.DruidStore

/** The Druid-shaped connector (sources/DruidSegmentConn.scala):
  * segment splits, time-interval segment pruning, dimension filter
  * pushdown, and the historicals-then-broker aggregation contract
  * (per-segment partial aggregates merged by Spark). */
class DruidSegmentSuite extends GraftSuite {

  private val Hour = 3600L * 1000

  private def mkDs(name: String): Unit = {
    DruidStore.drop(name)
    DruidStore.create(name, granularityMs = Hour,
      dims = Seq("site", "kind"),
      metrics = Seq("hits" -> LongType, "load" -> DoubleType))
    // 6 hourly segments x 60 rows
    for (h <- 0 until 6; m <- 0 until 60) {
      val ts = h * Hour + m * 60000L
      DruidStore.ingest(name, ts,
        Seq(s"s${m % 3}", s"k${m % 2}"), Seq((m + 1).toLong, m * 0.5))
    }
    assert(DruidStore.segmentCount(name) == 6)
  }

  private def read(name: String) =
    spark.read.format("graft-druid").option("datasource", name).load()

  test("raw scan: one split per segment, schema is time+dims+metrics") {
    mkDs("dr_scan")
    val df = read("dr_scan")
    assert(df.schema.fieldNames.toSeq ==
      Seq("__time", "site", "kind", "hits", "load"))
    assert(df.rdd.getNumPartitions == 6)
    assert(df.count() == 360)
  }

  test("time bounds prune whole segments at planning") {
    mkDs("dr_prune")
    // [2h, 4h): only segments 2 and 3 can intersect
    val q = read("dr_prune").filter(col("__time") >= lit(2 * Hour) &&
      col("__time") < lit(4 * Hour))
    assert(q.rdd.getNumPartitions == 2, "segments not pruned")
    assert(q.count() == 120)
    // a boundary inside a segment still row-filters exactly
    val half = read("dr_prune").filter(col("__time") >= lit(2 * Hour) &&
      col("__time") < lit(2 * Hour + 30 * 60000L))
    assert(half.rdd.getNumPartitions == 1)
    assert(half.count() == 30)
  }

  test("dimension equality/IN pushes into the segment filter") {
    mkDs("dr_dim")
    val q = read("dr_dim").filter(col("site") === "s1" && col("kind") === "k0")
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("PushedFilters"), plan)
    assert(!plan.contains("Filter ("), s"residual re-filter planned:\n$plan")
    // site s1: m%3==1; kind k0: m%2==0 -> m in {4,10,16,...,58} = 10/hour
    assert(q.count() == 60)
    assert(read("dr_dim").filter(col("site").isin("s0", "s2")).count() == 240)
  }

  test("grouped count/sum/min/max pushes; Spark merges the partials") {
    mkDs("dr_agg")
    val q = read("dr_agg").groupBy(col("site"))
      .agg(count(lit(1)).as("n"), sum(col("hits")).as("hits_sum"),
        sum(col("load")).as("load_sum"), min(col("hits")).as("h_min"),
        max(col("hits")).as("h_max"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("PushedAggregation: true"),
      s"aggregation not pushed into the segment scan:\n$plan")
    // site s0: m%3==0 -> m in {0,3,...,57}, 20/hour x 6h = 120 rows
    val s0 = q.filter(col("site") === "s0").collect()(0)
    assert(s0.getLong(1) == 120)
    // hits = m+1 for m%3==0: sum over hours = 6 * sum(m+1)
    val expectHits = 6L * (0 until 60 by 3).map(_ + 1).sum
    assert(s0.getLong(2) == expectHits)
    assert(s0.getLong(4) == 1L && s0.getLong(5) == 58L)
    // combined with time pruning: aggregation over 2 segments only
    // (read the scan node itself — AdaptiveSparkPlanExec is a leaf, so
    // collectLeaves on the executed plan would execute the whole query)
    val pruned = read("dr_agg").filter(col("__time") < lit(2 * Hour))
      .groupBy(col("kind")).agg(count(lit(1)).as("n"))
    val scan = pruned.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.execute().getNumPartitions == 2, "segments not pruned")
    assert(scan.execute().count() == 4) // 2 segments x 2 kinds
    assert(pruned.collect().map(_.getLong(1)).sum == 120)
  }

  test("unsupported aggregate shapes stay in Spark (the fallback)") {
    mkDs("dr_fall")
    // avg DOES push: Spark decomposes it into sum+count and both land
    // in the segment scan — assert that, then a genuinely unpushable
    // aggregate (stddev) falls back
    val a = read("dr_fall").groupBy(col("site")).agg(avg(col("load")).as("a"))
    assert(a.queryExecution.executedPlan.treeString
      .contains("PushedAggregation: true"))
    assert(a.orderBy("site").collect().map(_.getDouble(1)).head ==
      (0 until 60 by 3).map(_ * 0.5).sum / 20)
    val q = read("dr_fall").groupBy(col("site"))
      .agg(stddev_samp(col("load")).as("sd"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("PushedAggregation: false"), plan)
    assert(q.count() == 3)
    // grouping by a metric cannot push either
    val byMetric = read("dr_fall").groupBy(col("hits")).count()
    assert(byMetric.queryExecution.executedPlan.treeString
      .contains("PushedAggregation: false"))
    assert(byMetric.count() == 60)
  }

  test("aggregation moves only group rows, never raw rows") {
    mkDs("dr_rows")
    val q = read("dr_rows").groupBy(col("site"), col("kind"))
      .agg(sum(col("hits")).as("s"))
    // the scan emits at most groups x segments partial rows: 6 groups
    // x 6 segments = 36, vs 360 raw rows (read the BatchScan node —
    // the adaptive plan wrapper is itself a leaf)
    val scanned = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.execute().count()
    assert(scanned == 36L, s"expected 36 partial rows, got $scanned")
    assert(q.collect().map(_.getLong(2)).sum ==
      6L * (1 to 60).sum)
  }

  test("a date-dim join prunes segments at RUNTIME (dynamic pruning)") {
    // the time-dimension DPP: the build side keeps timestamps inside
    // ONE hour — only that hour's segment is read at execution, though
    // planning (no static __time bound) kept all 6
    mkDs("dr_runtime")
    val dim = spark.range(0, 360)
      .select((col("id") * 60000L).as("__time"),
        (col("id") % 120).as("tag"))
      .filter(col("tag") === 65) // keeps ids 65, 185, 305
    val joined = read("dr_runtime").join(broadcast(dim), Seq("__time"))
    val before = DruidStore.segmentsOpened.get()
    val n = joined.count()
    val opened = DruidStore.segmentsOpened.get() - before
    assert(n == 3) // ids 65 (h1), 185 (h3), 305 (h5) all exist
    // three hours' segments read, not six
    assert(opened <= 3, s"runtime filter did not prune: $opened segments")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [__time"),
      s"no runtime filter on the scan:\n$plan")
  }

  test("__time bounds at the ends of bigint do not wrap") {
    val name = "dr_edge"
    DruidStore.drop(name)
    DruidStore.create(name, granularityMs = Hour, dims = Seq("site"),
      metrics = Seq("hits" -> LongType))
    DruidStore.ingestBatch(name,
      (0 until 60).map(m => (m * 60000L, Seq(s"s${m % 3}"), Seq(m.toLong))))
    def n(f: org.apache.spark.sql.Column) = read(name).filter(f).count()
    assert(n(col("__time") <= lit(Long.MaxValue)) == 60)
    assert(n(col("__time") > lit(Long.MaxValue)) == 0)
    assert(n(col("__time") >= lit(Long.MinValue)) == 60)
    assert(n(col("__time") < lit(Long.MinValue)) == 0)
  }

  test("a row at Long.MinValue keeps a segment that starts there") {
    // An hour does not divide 2^63: flooring Long.MinValue to the hour
    // lies below the bigint range, and an unclamped start wrapped to a
    // positive segment that `__time < 0` pruned.
    val name = "dr_min"
    DruidStore.drop(name)
    DruidStore.create(name, granularityMs = Hour, dims = Seq("site"),
      metrics = Seq("hits" -> LongType))
    DruidStore.ingestBatch(name, Seq(
      (Long.MinValue, Seq("a"), Seq(1L)), (0L, Seq("b"), Seq(2L)),
      (Long.MaxValue, Seq("c"), Seq(3L))))
    assert(DruidStore.segmentCount(name) == 3)
    def sites(f: org.apache.spark.sql.Column) =
      read(name).filter(f).select("site").collect().map(_.getString(0)).sorted
    assert(sites(col("__time") < lit(0L)).toSeq == Seq("a"))
    assert(sites(col("__time") <= lit(Long.MinValue + Hour)).toSeq == Seq("a"))
    assert(sites(col("__time") >= lit(0L)).toSeq == Seq("b", "c"))
    assert(sites(col("__time") > lit(Long.MaxValue - Hour)).toSeq == Seq("c"))
  }
}
