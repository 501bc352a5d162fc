package graft

import org.apache.spark.sql.{functions, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.functions.Registry
import graft.plans.SmallSort

/** The small-sort shortcut (`plans/SmallSort`) and its fallbacks: a
  * global sort of under one partition's worth of input plans as
  * `Sort` over `Coalesce 1`, runs one job and returns Spark's order; a
  * large or `explode`-fed input keeps the range exchange, and an input
  * that is one partition already gets neither; AQE takes the shortcut
  * at runtime once an aggregate's stage has run, but not once the range
  * exchange itself has. */
class SmallSortSuite extends GraftSuite with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val lineitem = new java.io.File(SfDir).getParentFile.toPath
    .resolve("sf0.1").resolve("lineitem.parquet").toString

  private def plan(df: Dataset[_]): SparkPlan = df.queryExecution.executedPlan

  private def rangeExchanges(p: SparkPlan): Int = collect(p) {
    case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  /** Global sorts straight over `Coalesce 1` (through codegen's
    * `InputAdapter` once whole-stage codegen has run). */
  private def oneTaskSorts(p: SparkPlan): Int = collect(p) {
    case s @ SortExec(_, true, CoalesceExec(1, _), _) => s
    case s @ SortExec(_, true, InputAdapter(CoalesceExec(1, _)), _) => s
  }.size

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val values =
    "SELECT * FROM VALUES (3, 'c'), (1, 'a'), (2, 'b') AS t(k, v) ORDER BY k DESC"

  /** Keys with ties and NULLs over four input partitions. */
  private val keyed =
    """SELECT CASE WHEN id % 11 = 10 THEN NULL ELSE id % 11 END AS a,
      |  CASE WHEN id % 13 = 0 THEN NULL ELSE id DIV 11 END AS b,
      |  CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id % 3 AS string) END AS c
      |FROM range(0, 400, 1, 4)""".stripMargin

  private val orders = Seq(
    "a ASC NULLS LAST, b DESC NULLS FIRST, c ASC",
    "a DESC NULLS LAST, c DESC NULLS FIRST, b ASC NULLS LAST",
    "c ASC NULLS FIRST, b DESC NULLS LAST, a DESC")

  /** A session without graft's extensions or `Registry.install`, which
    * plans every global sort Spark's way. */
  private def bareSession(): SparkSession = {
    val s = org.apache.spark.sql.graft.TestSessions.bare(spark.sparkContext)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  test("a VALUES ORDER BY plans Sort over Coalesce 1 and runs one job") {
    val df = spark.sql(values)
    assert(oneTaskSorts(plan(df)) == 1 && rangeExchanges(plan(df)) == 0,
      plan(df).treeString)
    var rows = Seq.empty[String]
    assert(jobsIn { rows = df.collect().map(_.mkString(",")).toSeq } == 1)
    assert(rows == Seq("3,c", "2,b", "1,a"))
  }

  test("inputs above the floor keep the range exchange") {
    val scan = Tables.parquet(spark, lineitem)
    // a narrow projection's estimate is under the floor, but its one task
    // would read the whole scan: the leaf bound keeps the exchange
    val narrow = scan.select(($"l_linenumber" > 3).as("late")).orderBy("late")
    val floor = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    assert(narrow.queryExecution.optimizedPlan.children.head.stats.sizeInBytes <=
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(floor))
    Seq(scan.orderBy("l_orderkey", "l_linenumber"), narrow).foreach { df =>
      assert(rangeExchanges(plan(df)) == 1 && oneTaskSorts(plan(df)) == 0,
        plan(df).treeString)
    }
  }

  test("an explode input keeps the range exchange (Generate guard)") {
    val df = spark.sql(
      "SELECT explode(sequence(1, 500)) AS x ORDER BY x DESC")
    assert(rangeExchanges(plan(df)) == 1 && oneTaskSorts(plan(df)) == 0,
      plan(df).treeString)
    assert(df.as[Int].collect().toSeq == (500 to 1 by -1))
  }

  test("an input that is one partition already gets neither exchange nor Coalesce") {
    Seq(
      s"SELECT count(*) AS n FROM ($keyed) ORDER BY n",
      s"SELECT * FROM (SELECT * FROM ($keyed) LIMIT 7) ORDER BY a",
      s"SELECT a, row_number() OVER (ORDER BY b, c) AS r FROM ($keyed) ORDER BY a, r",
      s"""SELECT 'x' AS k, count(*) AS n FROM ($keyed) UNION ALL
         |SELECT 'y' AS k, sum(a) AS n FROM ($keyed) ORDER BY k DESC""".stripMargin
    ).foreach { q =>
      val df = spark.sql(q)
      assert(rangeExchanges(plan(df)) == 0 && oneTaskSorts(plan(df)) == 0,
        plan(df).treeString)
      assert(df.collect().toSeq == bareSession().sql(q).collect().toSeq, q)
    }
  }

  test("AQE takes the shortcut once a large GROUP BY's stage has run") {
    val df = Tables.parquet(spark, lineitem)
      .groupBy("l_returnflag", "l_linestatus").count()
      .orderBy($"l_returnflag".desc, $"l_linestatus")
    assert(rangeExchanges(plan(df)) == 1 && oneTaskSorts(plan(df)) == 0,
      "initial plan: " + plan(df).treeString)
    val rows = df.collect()
    assert(rows.map(_.getLong(2)).sum == 600000L)
    assert(rangeExchanges(plan(df)) == 0 && oneTaskSorts(plan(df)) == 1,
      "final plan: " + plan(df).treeString)
    val flags = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(flags == flags.sortBy(f => (f._1, f._2))(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.String)))
  }

  test("AQE keeps a range exchange that has already run") {
    // the join's estimate (a product of its inputs' sizes) stays above the
    // floor until the range stage itself has run; its output is sorted by
    // then, and a Coalesce would save nothing
    val keyed = spark.range(0, 200000, 1, 4).select(($"id" % 1000).as("k"), $"id")
    val df = keyed.groupBy("k").count()
      .join(keyed.groupBy("k").agg(functions.sum("id").as("s")), "k")
      .orderBy($"s".desc)
    val rows = df.collect()
    assert(rows.length == 1000 && rows.head.getLong(0) == 999L)
    assert(rangeExchanges(plan(df)) == 1 && oneTaskSorts(plan(df)) == 0,
      "final plan: " + plan(df).treeString)
  }

  test("with AQE off only the static path is taken") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val small = spark.sql(values)
      assert(oneTaskSorts(plan(small)) == 1 && rangeExchanges(plan(small)) == 0)
      assert(small.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 1))
      val grouped = Tables.parquet(spark, lineitem)
        .groupBy("l_returnflag").count().orderBy("l_returnflag")
      grouped.collect()
      assert(rangeExchanges(plan(grouped)) == 1 && oneTaskSorts(plan(grouped)) == 0,
        plan(grouped).treeString)
    }
  }

  test("an empty input sorts to no rows") {
    val df = spark.range(0, 100, 1, 4).filter($"id" > 1000).orderBy($"id".desc)
    assert(oneTaskSorts(plan(df)) == 1, plan(df).treeString)
    assert(df.collect().isEmpty)
    val none = spark.range(0, 0, 1, 4).orderBy("id")
    assert(none.collect().isEmpty)
  }

  test("rows come in the range-partitioned plan's order: multi-key, NULLS FIRST/LAST") {
    val bare = bareSession()
    orders.foreach { o =>
      val q = s"SELECT * FROM ($keyed) ORDER BY $o"
      val fast = spark.sql(q)
      val ranged = bare.sql(q)
      assert(oneTaskSorts(plan(fast)) == 1, o)
      assert(rangeExchanges(plan(ranged)) == 1, o)
      assert(fast.collect().toSeq == ranged.collect().toSeq, o)
    }
  }

  test("ORDER BY ... LIMIT still plans TakeOrderedAndProject") {
    val df = spark.sql(s"SELECT * FROM ($keyed) ORDER BY b DESC NULLS LAST LIMIT 5")
    val p = plan(df)
    assert(collect(p) { case t: TakeOrderedAndProjectExec => t }.size == 1
      && oneTaskSorts(p) == 0, p.treeString)
    val top = (0L until 400L).filter(_ % 13 != 0).map(_ / 11).sorted.reverse.take(5)
    assert(df.collect().map(_.getLong(1)).toSeq == top)
  }

  test("a driver-provided session gets the strategy from Registry.install") {
    val bare = bareSession()
    assert(rangeExchanges(plan(bare.sql(values))) == 1,
      "premise: a session without the hooks range-partitions")
    Registry.install(bare)
    Registry.install(bare)
    assert(bare.experimental.extraStrategies.count(_ == SmallSort) == 1)
    val df = bare.sql(values)
    assert(oneTaskSorts(plan(df)) == 1 && rangeExchanges(plan(df)) == 0,
      plan(df).treeString)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 1))
  }
}
