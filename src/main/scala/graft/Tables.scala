package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table access for the TPC-H-ish testdata (see TESTDATA.md).
  *
  * Mirrors the reference's catalog layer (PrestoDB's connector catalog,
  * `presto-spi/.../ConnectorTableMetadata.java`) in the idiomatic-Spark way:
  * parquet-backed temp views in the session catalog, letting Catalyst drive
  * pushdown/pruning into the scan.
  *
  * Scale notes: at 100 TB these would be partitioned/bucketed external tables
  * (e.g. `orders` bucketed by `o_orderkey`, date-partitioned on
  * `o_orderdate`), but the read path below — `spark.read.parquet` + catalyst
  * filter/column pushdown — is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One raw DataFrame for a fixture table. */
  def df(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalizes events.ts to a session TimestampType (µs) column
    * whatever the fixture's physical type: int64 nanos (a ns-typed
    * parquet read under the legacy nanosAsLong conf) is truncated to
    * µs via integer division — nanos-since-2024 exceed double
    * precision — and TIMESTAMP_NTZ is cast. Every downstream query AND
    * every DuckDB oracle compares at this µs resolution (oracles rank/
    * group by `epoch_us(ts)`, never raw ts — see Events.scala's qa7 /
    * q3w notes); StreamingSuite locks the convention with a planted
    * sub-µs tie. */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  // Temp views are session-global, so track the single sfDir currently
  // registered per session and re-register on any change — a Set of
  // (session, dir) pairs would let a stale dir hit the cache and silently
  // serve another scale factor's data (r1 ADVICE). Keyed by the session
  // reference itself rather than identityHashCode, which can be reused
  // after GC and wrongly skip registration for a new session. Weak keys so
  // stopped sessions aren't pinned for the JVM lifetime (sessions have no
  // equals override, so WeakHashMap's equals-based lookup IS identity).
  private val registered = new java.util.WeakHashMap[SparkSession, String]()

  /** Registers every fixture table as a temp view named after the table. */
  def register(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (registered.get(spark) != sfDir) {
      // events.ts has shifted physical type across driver testdata
      // generations: TIMESTAMP(NANOS) (readable only as int64 via the
      // legacy nanosAsLong conf) vs plain TIMESTAMP(MICROS) (read as
      // TIMESTAMP_NTZ). Normalize both to a session TimestampType column
      // so every downstream query sees one stable schema.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      names.foreach { n =>
        val raw = df(spark, sfDir, n)
        val v = if (n == "events") normalizeEventsTs(raw) else raw
        v.createOrReplaceTempView(n)
      }
      // partsupp: the slim fixture omits TPC-H's partsupp table; derive it
      // deterministically (4 suppliers per part, arithmetic-derived
      // cost/qty) the way the reference's TPC-H connector generates tables
      // on the fly (presto-tpch/.../TpchMetadata.java:95-99). Lazy view —
      // no action at registration; the 1-row supplier count and the 4-row
      // generator both broadcast. The 4x multiplier is a range() relation
      // (true row count in stats) rather than explode(sequence()) (1-row
      // estimate), so the derived partsupp reports fact-sized — at TPC-H
      // scale partsupp is a fact and must never land on a broadcast side. The DuckDB oracle replays the identical
      // integer arithmetic as a CTE, so both engines see identical rows.
      spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW partsupp AS
          |SELECT p_partkey AS ps_partkey,
          |  ((p_partkey + i * GREATEST(1, s_cnt DIV 4)) % s_cnt) + 1
          |    AS ps_suppkey,
          |  (p_partkey * 7 + i * 11) % 9999 + 1 AS ps_availqty,
          |  CAST((p_partkey * 31 + i * 17) % 10000 AS DOUBLE) / 100.0 + 1.0
          |    AS ps_supplycost
          |FROM part
          |CROSS JOIN (SELECT cast(id as int) AS i FROM range(0, 4)) gen
          |CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier) sc""".stripMargin)
      registered.put(spark, sfDir)
    }
  }

  /** Registers views and returns the named table. */
  def view(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    register(spark, sfDir)
    spark.table(name)
  }

  /** Exact row count of a BASE fixture table from its parquet footer
    * record counts — driver-side metadata only, no Spark job (r18 OPT,
    * guide §1.2: several gates paid a full count() scan for a number
    * the footers already hold; the same metadata shortcut a real
    * engine's count(*) takes). Only valid for the plain file-backed
    * tables in [[names]] — derived views (partsupp) multiply rows.
    * Falls back to a count() job if the footer read fails. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    require(names.contains(name), s"rowCount: not a base table: $name")
    Footers.rowCount(spark, Seq(s"$sfDir/$name.parquet"))
      .getOrElse(view(spark, sfDir, name).count())
  }
}
