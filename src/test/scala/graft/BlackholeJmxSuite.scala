package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ClosingRows, ConnectorProvider, ConnectorScan, ConnectorSplit, ReadTable, SplitReaderFactory}

/** Contracts for the graft-blackhole benchmark connector
  * (sources/BlackholeConn.scala) and the graft_jmx introspection
  * catalog (sources/JmxConn.scala). */
class BlackholeJmxSuite extends GraftSuite {

  import spark.implicits._

  private def bhRead(sch: StructType, splits: Int, pages: Int, rows: Int,
      fieldLength: Option[Int] = None) = {
    val r = spark.read.format("graft-blackhole").schema(sch)
      .option("split_count", splits).option("pages_per_split", pages)
      .option("rows_per_page", rows)
    fieldLength.fold(r)(n => r.option("field_length", n)).load()
  }

  test("blackhole read generates split*pages*rows zero rows") {
    val sch = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      StructField("c", StringType), StructField("d", BooleanType),
      StructField("e", DateType), StructField("f", DecimalType(10, 2)),
      StructField("g", BinaryType), StructField("h", IntegerType),
      StructField("i", TimestampNTZType)))
    val df = bhRead(sch, 3, 2, 7)
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.collect()
    assert(rows.length == 3 * 2 * 7)
    val r = rows.head
    assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0)
    assert(r.getString(2) == "*" * 16)
    assert(!r.getBoolean(3))
    assert(r.getDate(4).toString == "1970-01-01")
    assert(r.getDecimal(5).compareTo(java.math.BigDecimal.ZERO) == 0)
    assert(r.getAs[Array[Byte]](6).toSeq == Seq.fill(16)(42.toByte))
    assert(r.getInt(7) == 0)
  }

  test("blackhole field_length sizes variable-width fields; zero splits read empty") {
    val sch = StructType(Seq(StructField("c", StringType)))
    assert(bhRead(sch, 1, 1, 1, Some(5)).collect()(0).getString(0) == "*****")
    assert(bhRead(sch, 0, 0, 0).count() == 0L)
  }

  test("blackhole write discards rows and folds per-task counts") {
    graft.sources.BlackholeConn.reset("bh_t1")
    spark.range(12345).toDF("id").repartition(7)
      .write.format("graft-blackhole").option("name", "bh_t1")
      .mode("append").save()
    assert(graft.sources.BlackholeConn.rowsWritten("bh_t1") == 12345L)
    // appends accumulate
    Seq(1L, 2L).toDF("id").write.format("graft-blackhole")
      .option("name", "bh_t1").mode("append").save()
    assert(graft.sources.BlackholeConn.rowsWritten("bh_t1") == 12347L)
  }

  test("blackhole streaming sink discards micro-batches and counts rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    graft.sources.BlackholeConn.reset("bh_stream")
    val in = MemoryStream[Long]
    withTempDir("bh_ckpt") { ckpt =>
      val q = in.toDF().writeStream.format("graft-blackhole")
        .option("name", "bh_stream")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        in.addData(1L to 500L: _*)
        q.processAllAvailable()
        assert(graft.sources.BlackholeConn.rowsWritten("bh_stream") == 500L)
        in.addData(501L to 700L: _*)
        q.processAllAvailable()
        assert(graft.sources.BlackholeConn.rowsWritten("bh_stream") == 700L)
      } finally q.stop()
    }
  }

  test("blackhole rejects unsupported read types loudly") {
    val sch = StructType(Seq(StructField("m", MapType(StringType, LongType))))
    val e = intercept[Exception] { bhRead(sch, 1, 1, 1).collect() }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
  }

  test("jmx current: runtime table resolves with typed attribute columns") {
    val df = spark.sql(
      "SELECT * FROM graft_jmx.current.`java.lang:type=runtime`")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("node") == StringType)
    assert(byName("object_name") == StringType)
    assert(byName("uptime") == LongType)
    assert(byName("starttime") == LongType)
    assert(byName("vmname") == StringType)
    assert(byName("bootclasspathsupported") == BooleanType)
    val row = df.select("object_name", "uptime", "vmname").collect()(0)
    assert(row.getString(0) == "java.lang:type=Runtime")
    assert(row.getLong(1) >= 0L)
    assert(row.getString(2).nonEmpty)
  }

  test("jmx wildcard table unions matching beans with object_name") {
    val names = spark.sql(
      "SELECT object_name FROM graft_jmx.current.`java.lang:type=*`")
      .as[String].collect().toSeq
    assert(names.size >= 5, names.toString)
    assert(names.forall(_.startsWith("java.lang:type=")))
    assert(names.contains("java.lang:type=Runtime"))
    assert(names.contains("java.lang:type=Memory"))
  }

  test("jmx history: samples accumulate with timestamps; unknown tables fail") {
    graft.sources.JmxConn.clearHistory("java.lang:type=runtime")
    graft.sources.JmxConn.sample("java.lang:type=runtime")
    graft.sources.JmxConn.sample("java.lang:type=runtime")
    graft.sources.JmxConn.sample("java.lang:type=runtime")
    val h = spark.sql(
      "SELECT timestamp, uptime FROM graft_jmx.history.`java.lang:type=runtime`")
    assert(h.schema("timestamp").dataType == TimestampType)
    val rows = h.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => !r.isNullAt(0)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_jmx.current.`no.such:type=bean`")
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
  }

  test("localfile: gzip sniff, null trailing fields, timestamp file-pruning") {
    val dir = graft.queries.Connectors.writeQ0nLogs()
    val df = spark.read.format("graft-localfile").option("dir", dir).load()
    // all three rotations (one gzipped) read: 1200 rows, 3 partitions
    assert(df.count() == 1200L)
    assert(df.rdd.getNumPartitions == 3)
    // k % 10 == 0 rows wrote an empty trace_token -> NULL
    assert(df.filter(col("trace_token").isNull).count() == 120L)
    assert(df.select(min(col("server_address"))).collect()(0)
      .getString(0).nonEmpty)
    // upper-bound predicate prunes rotation 3 (first record at 13:20)
    // at the SCAN: 2 partitions planned, and the filter shows as pushed
    val filtered = df.filter(
      col("timestamp") < lit("2024-01-01 08:00:00").cast("timestamp"))
    assert(filtered.rdd.getNumPartitions == 2)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("graft-localfile"), "scan node missing")
    assert(filtered.count() == 480L)
    // row-level residual still applies inside the straddling rotation 2
    assert(filtered.filter(col("method") === "GET").count() == 160L)
  }

  test("jmx catalog lists schemas and is read-only") {
    val schemas = spark.sql("SHOW SCHEMAS FROM graft_jmx")
      .collect().map(_.getString(0)).toSet
    assert(schemas == Set("current", "history"))
    val tables = spark.sql("SHOW TABLES FROM graft_jmx.current")
      .collect().map(_.getString(1))
    assert(tables.contains("java.lang:type=runtime"))
    val e = intercept[Exception] {
      spark.sql("DROP TABLE graft_jmx.current.`java.lang:type=runtime`")
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("connector scaffold closes each cursor once, also after LIMIT 1") {
    import CountingSource.{closes, opened}
    def reset(): Unit = { opened.set(0); closes.clear() }
    def closeCounts: Seq[Int] = (0 until opened.get).map(closes.get(_).get)
    val src = classOf[CountingSource].getName

    reset()
    assert(spark.read.format(src).load().count() == 400L)
    assert(opened.get == 4)
    assert(closeCounts == Seq(1, 1, 1, 1))

    // a partial read still closes every cursor it opened
    reset()
    assert(spark.read.format(src).load().limit(1).collect().length == 1)
    assert(opened.get >= 1 && opened.get < 4, s"opened ${opened.get}")
    assert(closeCounts.forall(_ == 1), closeCounts.toString)

    // a reader closed twice closes its cursor once
    reset()
    val r = SplitReaderFactory.createReader(CountingSplit(0))
    assert(r.next() && r.get().getLong(0) == 0L)
    r.close(); r.close()
    assert(closeCounts == Seq(1))
  }
}

/** A test source of 4 splits x 100 rows whose cursors count how often
  * each is closed. */
class CountingSource extends ConnectorProvider("graft-test-counting") {
  override def table(options: CaseInsensitiveStringMap): Table =
    new ReadTable {
      override def name(): String = "graft-test-counting"
      override def schema(): StructType =
        StructType(Seq(StructField("id", LongType)))
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        () => new ConnectorScan(schema()) {
          override def planInputPartitions(): Array[InputPartition] =
            Array.tabulate[InputPartition](4)(CountingSplit(_))
        }
    }
}

object CountingSource {
  /** cursors opened, each numbered in open order */
  val opened = new AtomicInteger()
  /** cursor number -> times closed */
  val closes = new ConcurrentHashMap[Int, AtomicInteger]()
}

final case class CountingSplit(id: Int) extends ConnectorSplit {
  override def rows(): Iterator[InternalRow] = {
    val n = CountingSource.opened.getAndIncrement()
    val closed = new AtomicInteger()
    CountingSource.closes.put(n, closed)
    new ClosingRows(Iterator.range(0, 100).map(i => InternalRow(id * 100L + i)),
      () => closed.incrementAndGet())
  }
}
