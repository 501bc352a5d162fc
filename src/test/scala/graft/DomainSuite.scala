package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources._

/** Filter pushdown through `sources.Domain`, checked differentially.
  *
  * Random conjunctions of `=`, `IN`, `<`, `<=`, `>`, `>=` and
  * `IS [NOT] NULL` over boundary literals (`Long.MinValue`,
  * `Long.MaxValue`, 2^53 ± 1, the empty string, NULL inside `IN`) are
  * read through every connector that enforces what it pushes, and must
  * return the rows the same filter returns over the connector's
  * unfiltered rows in a plain DataFrame. Each connector first runs a
  * fixed list of edge conjunctions: bounds at the ends of bigint, longs
  * one apart above 2^53, and two bounds on one column in both orders.
  * The advisory connectors (Atop, LocalFile, Thrift) must hand every
  * filter back to Spark, and their pruning must keep every matching
  * row. */
class DomainSuite extends GraftSuite {

  private val Big = 1L << 53
  private val longs = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
    Big - 1, Big, Big + 1, Long.MaxValue - 1, Long.MaxValue)
  private val ints = Seq(Int.MinValue, -1, 0, 1, 7, Int.MaxValue)
  private val strings = Seq("", "a", "ab", "b", "é")
  private val doubles = Seq(-1.5, 0.0, 1.0, 2.5, Big.toDouble)

  /** A filter as a DataFrame condition and as the source filter Spark
    * translates it to. */
  private final case class Term(column: Column, filter: sources.Filter)

  private def term(c: String, values: Seq[Any]): Gen[Term] = {
    val v = Gen.oneOf(values)
    Gen.oneOf(
      v.map(x => Term(col(c) === lit(x), sources.EqualTo(c, x))),
      for {
        xs <- Gen.nonEmptyListOf(v).map(_.distinct)
        withNull <- Gen.oneOf(false, true)
      } yield {
        val list = if (withNull) xs :+ null else xs
        Term(col(c).isin(list: _*), sources.In(c, list.toArray))
      },
      v.map(x => Term(col(c) < lit(x), sources.LessThan(c, x))),
      v.map(x => Term(col(c) <= lit(x), sources.LessThanOrEqual(c, x))),
      v.map(x => Term(col(c) > lit(x), sources.GreaterThan(c, x))),
      v.map(x => Term(col(c) >= lit(x), sources.GreaterThanOrEqual(c, x))),
      Gen.const(Term(col(c).isNull, sources.IsNull(c))),
      Gen.const(Term(col(c).isNotNull, sources.IsNotNull(c))))
  }

  private def conjunction(columns: Seq[(String, Seq[Any])]): Gen[Seq[Term]] =
    for {
      n <- Gen.choose(1, 3)
      ts <- Gen.listOfN(n, Gen.oneOf(columns).flatMap {
        case (c, vs) => term(c, vs)
      })
    } yield ts

  /** The fixed edge conjunctions over one bigint column. */
  private def edges(c: String): Seq[Column] = {
    val k = col(c)
    Seq(k > lit(Long.MaxValue), k >= lit(Long.MaxValue),
      k < lit(Long.MinValue), k <= lit(Long.MinValue),
      k <= lit(Long.MaxValue), k >= lit(Long.MinValue),
      k === lit(Big + 1), k > lit(Big), k < lit(Big + 1),
      k > lit(5L) && k > lit(-5L), k > lit(-5L) && k > lit(5L),
      k < lit(5L) && k < lit(-5L), k < lit(-5L) && k < lit(5L),
      k > lit(5L) && k < lit(-5L))
  }

  private val Cases = 40

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Every condition returns, through `read`, the rows it returns over
    * `read`'s unfiltered rows in a plain DataFrame. */
  private def differential(read: => DataFrame, edgeColumns: Seq[String],
      columns: Seq[(String, Seq[Any])]): Unit = {
    val all = read
    val plain = spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
    val random = (1 to Cases).flatMap(i =>
      conjunction(columns)(Gen.Parameters.default, Seed(i.toLong))
        .map(_.map(_.column).reduce(_ && _)))
    (edgeColumns.flatMap(edges) ++ random).foreach { cond =>
      val got = sorted(read.filter(cond).collect().toSeq)
      val want = sorted(plain.filter(cond).collect().toSeq)
      val same = got == want
      assert(same, s"$cond: ${got.size} rows, want ${want.size}")
    }
  }

  test("Domain intersects, tests membership in the column's type and " +
      "bounds bigint spans without wrapping") {
    def range(lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) =
      Domain(LongType, Vector(Range(lo.map(Bound.tupled), hi.map(Bound.tupled))),
        nullAllowed = false)
    val above = range(Some((Big, false)), None)
    assert(above.contains(Big + 1) && !above.contains(Big))
    assert(!above.contains(null))
    val in = Domain.of(LongType, Seq(Big + 1, 3L, Big + 1, -7L))
    assert(in.values.contains(Seq(-7L, 3L, Big + 1)))
    assert(in.intersect(above).values.contains(Seq(Big + 1)))
    assert(range(Some((5L, false)), None)
      .intersect(range(None, Some((5L, true)))).isNone)
    assert(range(Some((Long.MaxValue, false)), None).longSpan.isEmpty)
    assert(range(None, Some((Long.MinValue, false))).longSpan.isEmpty)
    assert(range(None, Some((Long.MaxValue, true))).longSpan ==
      Some((Long.MinValue, Long.MaxValue)))
    assert(range(Some((1L, false)), Some((4L, false))).longSpan ==
      Some((2L, 3L)))
    assert(Domain.onlyNull(LongType).contains(null))
    assert(Domain.notNull(LongType).isNotNull)
    assert(above.interval.isDefined && in.interval.isEmpty)
    // doubles order NaN last and -0.0 equal to 0.0, as Spark does
    val d = Domain.of(DoubleType, Seq(0.0))
    assert(d.contains(-0.0))
    assert(Domain(DoubleType, Vector(Range(Some(Bound(1.0, false)), None)),
      false).contains(Double.NaN))
    // strings order by code point (UTF-8 bytes), not by UTF-16 unit
    val s = Domain(StringType, Vector(Range(Some(Bound("\uffff", false)),
      None)), false)
    assert(s.contains("\ud83d\ude00"))
  }

  test("TupleDomain translates each filter once, with typed literals") {
    val types = TupleDomain.types(StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("m", MapType(StringType, StringType)))))
    val td = TupleDomain.of(sources.And(sources.GreaterThan("k", Big),
      sources.LessThanOrEqual("k", Big + 1)), types).get
    val k = td.get("k").get
    assert(k.contains(Big + 1) && !k.contains(Big) && !k.contains(Big + 2))
    assert(k.longSpan == Some((Big + 1, Big + 1)))
    assert(TupleDomain.of(sources.In("k", Array(1L, null)), types).isEmpty)
    assert(TupleDomain.of(sources.EqualTo("k", null), types).isEmpty)
    assert(TupleDomain.of(sources.IsNull("m"), types).isEmpty)
    assert(TupleDomain.of(sources.EqualTo("x", 1L), types).isEmpty)
    assert(TupleDomain.of(sources.StringStartsWith("s", "a"), types).isEmpty)
    val (taken, d) = TupleDomain.push(Array[sources.Filter](
      sources.GreaterThan("k", 1L), sources.EqualTo("s", "a"),
      sources.GreaterThanOrEqual("k", 3L)), types)((c, _) => c == "k")
    assert(taken.toSeq == Seq(sources.GreaterThan("k", 1L),
      sources.GreaterThanOrEqual("k", 3L)))
    assert(d.get("k").get.span == Some(Range(Some(Bound(3L, true)), None)))
  }

  test("graft-accumulo enforces what it pushes") {
    val name = "dm_acc"
    AccStore.drop(name)
    AccStore.create(name, rowId = ("id", LongType),
      columns = Seq(("v", "a", LongType), ("s", "a", StringType),
        ("w", "b", LongType)),
      indexed = Set("v", "s"))
    (longs ++ (100L to 109L)).zipWithIndex.foreach { case (id, i) =>
      AccStore.put(name, Map("id" -> id,
        "v" -> (if (i % 6 == 5) null else longs((i * 7) % 10)),
        "s" -> (if (i % 5 == 4) null else strings(i % 5)),
        "w" -> longs((i * 3) % 10)))
    }
    differential(
      spark.read.format("graft-accumulo").option("table", name).load(),
      Seq("id", "v"),
      Seq("id" -> longs, "v" -> longs, "s" -> strings, "w" -> longs))
  }

  test("graft-cassandra enforces what it pushes") {
    val name = "dm_cass"
    CassStore.drop(name)
    CassStore.create(name, partitionKeys = Seq("user"),
      clusteringKeys = Seq("day"),
      fields = Seq("user" -> StringType, "day" -> LongType,
        "v" -> LongType))
    for ((u, i) <- strings.zipWithIndex; (d, j) <- longs.zipWithIndex)
      CassStore.upsert(name, Seq(u, d,
        if ((i + j) % 7 == 3) null else longs((i + 3 * j) % 10)))
    val read = spark.read.format("graft-cassandra").option("table", name)
      .load()
    differential(read, Seq("day", "v"),
      Seq("user" -> strings, "day" -> longs, "v" -> longs))
    differential(read.filter(col("user") === "a"), Seq("day"),
      Seq("day" -> longs, "v" -> longs))
  }

  test("graft-druid enforces what it pushes") {
    val name = "dm_druid"
    DruidStore.drop(name)
    DruidStore.create(name, granularityMs = 1024, dims = Seq("s"),
      metrics = Seq("v" -> LongType))
    DruidStore.ingestBatch(name, (0 until 30).map { i =>
      (longs(i % 10), Seq(if (i % 7 == 6) null else strings(i % 5)),
        Seq(longs((i * 3) % 10)))
    })
    differential(
      spark.read.format("graft-druid").option("datasource", name).load(),
      Seq("__time", "v"),
      Seq("__time" -> longs, "s" -> strings, "v" -> longs))
  }

  test("graft-es enforces what it pushes") {
    val name = "dm_es"
    EsStore.drop(name)
    EsStore.create(name, 3, Seq("v" -> LongType, "i" -> IntegerType,
      "s" -> StringType, "d" -> DoubleType))
    (0 until 30).foreach { n =>
      EsStore.indexDoc(name, s"d$n", Map[String, Any](
        "v" -> longs(n % 10), "i" -> ints(n % 6),
        "s" -> strings(n % 5), "d" -> doubles((n * 3) % 5)) --
        (if (n % 7 == 3) Seq("v", "s") else Seq.empty))
    }
    EsStore.refresh(name)
    differential(spark.read.format("graft-es").option("index", name).load(),
      Seq("v"),
      Seq("v" -> longs, "i" -> ints, "s" -> strings, "d" -> doubles))
  }

  test("graft-tpch (the closed-form generator) enforces what it pushes") {
    differential(spark.table("graft_tpch.tiny.orders").select("o_orderkey"),
      Seq("o_orderkey"),
      Seq("o_orderkey" ->
        (longs ++ Seq(7L, 8L, 32L, 33L, 59999L, 60000L, 60001L))))
  }

  test("graft-kudu enforces what it pushes") {
    val name = "dm_kudu"
    KuduStore.drop(name)
    KuduStore.create(name,
      columns = Seq(("id", LongType, false), ("r", LongType, false),
        ("v", LongType, true), ("s", StringType, true)),
      pkCount = 2, hashCols = Seq("id"), hashBuckets = 3,
      rangeCol = Some("r"),
      rangeBounds = Seq((None, Some(0L)), (Some(0L), None)))
    (0 until 20).foreach { i =>
      KuduStore.upsert(name, Seq(longs(i % 10), longs((i / 10 + i) % 10),
        if (i % 7 == 3) null else longs((i * 7) % 10),
        if (i % 5 == 4) null else strings(i % 5)))
    }
    differential(spark.read.format("graft-kudu").option("table", name).load(),
      Seq("id", "r", "v"),
      Seq("id" -> longs, "r" -> longs, "v" -> longs, "s" -> strings))
  }

  test("graft-mongo enforces what it pushes") {
    val name = "dm_mongo"
    MongoStore.drop(name)
    (0 until 30).foreach { n =>
      MongoStore.insert(name, Map[String, Any](
        // an int document value reads as the bigint the schema guessed
        "v" -> (if (n % 4 == 1) (n - 10) else longs(n % 10)),
        "s" -> strings(n % 5), "d" -> doubles((n * 3) % 5)) --
        (if (n % 7 == 3) Seq("v", "s") else Seq.empty))
    }
    differential(
      spark.read.format("graft-mongo").option("collection", name).load(),
      Seq("v"),
      Seq("v" -> (longs ++ Seq(-9L, 3L)), "s" -> strings, "d" -> doubles))
  }

  test("graft-pinot enforces what it pushes") {
    val name = "dm_pinot"
    PinotStore.drop(name)
    PinotStore.create(name, Seq(("v", LongType), ("s", StringType),
      ("d", DoubleType)))
    (0 until 30).foreach { n =>
      PinotStore.ingest(name, Seq(
        if (n % 7 == 3) null else longs(n % 10),
        if (n % 6 == 2) null else strings(n % 5), doubles((n * 3) % 5)))
      if (n % 8 == 7) PinotStore.seal(name)
    }
    differential(spark.read.format("graft-pinot").option("table", name).load(),
      Seq("v"), Seq("v" -> longs, "s" -> strings, "d" -> doubles))
  }

  /** Each random conjunction of source filters comes back whole from
    * `pushFilters`, and `read` keeps every row the filter matches. */
  private def advisory(read: => DataFrame,
      pushFilters: Array[sources.Filter] => Array[sources.Filter],
      columns: Seq[(String, Seq[Any])]): Unit = {
    val all = read
    val plain = spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
    (1 to Cases).foreach { i =>
      conjunction(columns)(Gen.Parameters.default, Seed(i.toLong)).foreach {
        terms =>
          val fs = terms.map(_.filter).toArray
          assert(pushFilters(fs).toSeq == fs.toSeq, s"${fs.toSeq} not residual")
          val cond = terms.map(_.column).reduce(_ && _)
          val got = sorted(read.filter(cond).collect().toSeq)
          val want = sorted(plain.filter(cond).collect().toSeq)
          val same = got == want
          assert(same, s"$cond: ${got.size} rows, want ${want.size}")
      }
    }
  }

  test("graft-thrift keeps every filter residual; hints drop no match") {
    val schema = StructType(Seq(StructField("v", LongType),
      StructField("s", StringType)))
    val svc = new InMemoryThriftService("g", rowsPerSplit = 4)
    svc.putTable("t", schema, (0 until 30).map(n => Seq[Any](
      if (n % 7 == 3) null else longs(n % 10),
      if (n % 6 == 2) null else strings(n % 5))))
    ThriftRegistry.register("dm_thrift", svc)
    advisory(
      spark.read.format("graft-thrift").option("service", "dm_thrift")
        .option("schema", "g").option("table", "t").load(),
      new ThriftScanBuilder("dm_thrift", "g", "t", schema, 100, 1L << 24)
        .pushFilters(_),
      Seq("v" -> longs, "s" -> strings))
  }

  test("graft-localfile keeps every filter residual; pruning drops no " +
      "match") {
    withTempDir("dm_localfile") { dir =>
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val times = (0 until 9).map(i => t0.plusSeconds(600L * i))
      times.grouped(3).zipWithIndex.foreach { case (ts, f) =>
        Files.write(dir.resolve(s"log$f"), ts.map(t =>
          s"${t.atOffset(java.time.ZoneOffset.UTC)}\t10.0.0.$f\tGET\t/x\tu\ta\t200\t1\t2\t3\tz")
          .asJava, StandardCharsets.UTF_8)
      }
      val literals = times.flatMap(t => Seq(t, t.minusNanos(1000),
        t.plusNanos(1000))).map(Timestamp.from)
      advisory(
        spark.read.format("graft-localfile").option("dir", dir.toString)
          .load(),
        new LocalFileScanBuilder(dir.toString, "*").pushFilters(_),
        Seq("timestamp" -> literals))
    }
  }

  test("graft-atop keeps every filter residual; day pruning drops no " +
      "match") {
    val store = "dm_atop"
    val e0 = 1700006400L // UTC-day-aligned epoch
    AtopLogStore.drop(store)
    for (d <- 0 until 4; k <- 0 until 2) {
      val end = e0 + d * 86400 + 600 + k * 43200
      AtopLogStore.append(store, "10.0.0.1", e0 / 86400 + d, Seq(
        s"DSK h $end 2023/11/15 00:00:00 600 sda 1001 $k 2 3 4"))
    }
    val literals = (0 until 5).flatMap { d =>
      val day = e0 + d * 86400
      Seq(day - 1, day, day + 1, day + 600, day + 43800)
    }.map(s => new Timestamp(s * 1000))
    advisory(
      spark.read.format("graft-atop").option("store", store)
        .option("table", "disks").load(),
      new AtopScanBuilder(store, "disks", AtopTables.Disks, 30).pushFilters(_),
      Seq("start_time" -> literals, "end_time" -> literals))
  }
}
