package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

import graft.functions.{DDSketchAgg, HyperLogLog, KHll, QuantileSketch, Registry, SetDigest, SketchFamily, SketchMerge, TDigest}

/** Family detection (SketchFamily.of) and the one merge aggregate behind
  * `merge`, the typed merge names and the Column API merges: empty
  * groups, parameters taken from the first input, and the sort-based
  * fallback ObjectHashAggregate takes past 4096 keys per task. */
class SketchFamilySuite extends GraftSuite with AdaptiveSparkPlanHelper {

  private lazy val ready: Unit = Registry.install(spark)

  private def bytesOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.head().getAs[Array[Byte]](0)

  test("of recognizes every family and rejects other bytes") {
    val hll = new HyperLogLog.State(12); hll.offer(7L)
    val td = new TDigest.State(100.0); td.insert(1.5)
    val qd = new QuantileSketch.State(0.01); qd.insert(1.5)
    val sd = new SetDigest.State(16); sd.offer(7L)
    val kh = new KHll.State(16); kh.offer(7L, 9L)
    val cases = Seq(
      hll.serialize() -> SketchFamily.HllSketch,
      kh.serialize() -> SketchFamily.KhllSketch,
      qd.serialize() -> SketchFamily.QDigestSketch,
      td.serialize() -> SketchFamily.TDigestSketch,
      sd.serialize() -> SketchFamily.SetDigestSketch,
      new SetDigest.State(SetDigest.DefaultK).serialize() -> SketchFamily.SetDigestSketch)
    cases.foreach { case (bytes, f) => assert(SketchFamily.of(bytes) eq f, f.name) }
    Seq(SketchFamily.HllSketch, SketchFamily.KhllSketch, SketchFamily.QDigestSketch,
      SketchFamily.TDigestSketch, SketchFamily.SetDigestSketch).foreach { f =>
      assert(SketchFamily.of(f.emptyBytes) eq f, s"empty ${f.name}")
    }
    for (bad <- Seq(Array[Byte](1, 2, 3), new Array[Byte](8),
        new TDigest.State(Double.NaN).serialize()))
      intercept[IllegalArgumentException](SketchFamily.of(bad))
  }

  test("empty t-digest and qdigest merges stay in their own family") {
    ready
    // an empty merge_tdigest result re-merged with a real t-digest
    val p50 = spark.sql(
      """WITH e AS (
        |  SELECT merge_tdigest(td) AS td FROM (
        |    SELECT tdigest_agg(CAST(id AS DOUBLE)) AS td FROM range(10)
        |    GROUP BY id) WHERE td IS NULL),
        |r AS (SELECT tdigest_agg(CAST(id AS DOUBLE)) AS td FROM range(1, 101))
        |SELECT value_at_quantile(merge(td), 0.5d) FROM (
        |  SELECT td FROM e UNION ALL SELECT td FROM r)""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(p50 - 50.5) <= 1.5, s"p50=$p50")
    // an empty qdigest merge answers as a qdigest
    val qd = spark.range(10).toDF("id")
      .groupBy(col("id")).agg(QuantileSketch.sketch(col("id").cast("double")).as("sk"))
      .where(col("sk").isNull)
      .agg(QuantileSketch.merge(col("sk")).as("m"))
    val row = qd.selectExpr("m", "values_at_quantiles(m, array(0.5d))").head()
    assert(SketchFamily.of(row.getAs[Array[Byte]](0)) eq SketchFamily.QDigestSketch)
    assert(row.getSeq[Double](1).head.isNaN)
  }

  test("HyperLogLog.mergeCol keeps the precision of its inputs") {
    val df = spark.range(0, 5000, 1, 4).toDF("id")
    val parts = df.groupBy(col("id") % 8).agg(HyperLogLog.approxSet(col("id"), 14).as("hs"))
    val merged = bytesOf(parts.agg(HyperLogLog.mergeCol(col("hs"))))
    val direct = bytesOf(df.agg(HyperLogLog.approxSet(col("id"), 14)))
    assert(java.util.Arrays.equals(merged, direct))
    assert(HyperLogLog.deserialize(merged).p == 14)
  }

  test("SetDigest.merge keeps k above the default") {
    val k = 2 * SetDigest.DefaultK
    val df = spark.range(0, 12000, 1, 4).toDF("id")
    val parts = df.groupBy(col("id") % 4).agg(SetDigest.make(col("id"), k).as("d"))
    val merged = bytesOf(parts.agg(SetDigest.merge(col("d"))))
    val direct = bytesOf(df.agg(SetDigest.make(col("id"), k)))
    assert(java.util.Arrays.equals(merged, direct))
    assert(SetDigest.deserialize(merged).cardinality == 12000L)
  }

  test("typed merge names reject another family's bytes and name the function") {
    ready
    val err = intercept[Exception] {
      spark.sql(
        """SELECT merge_set_digest(s) FROM (
          |  SELECT approx_set(id) AS s FROM range(10))""".stripMargin).collect()
    }
    assert(err.getMessage.contains("merge_set_digest expects setdigest sketches"),
      s"unexpected: ${err.getMessage}")
  }

  test("build and merge past the 4096-key fallback equal the direct build") {
    ready
    // one partition, 5000 groups: both aggregates leave the hash map
    val rows = spark.range(0, 20000, 1, 1)
      .selectExpr("id % 5000 AS g", "CAST(id AS DOUBLE) AS x", "id < 10000 AS half")
    val direct = rows.groupBy("g").agg(expr("qdigest_agg(x)").as("d"))
    val parts = rows.groupBy("g", "half").agg(expr("qdigest_agg(x)").as("sk"))
    // every group first meets a NULL, so the buffers spilled at the
    // fallback hold no sketch yet; the partials arrive after it
    val nulls = spark.range(0, 5000, 1, 1).selectExpr("id AS g", "CAST(NULL AS BINARY) AS sk")
    val merged = nulls.unionByName(parts.select("g", "sk")).coalesce(1)
      .groupBy("g").agg(expr("merge(sk)").as("m"))
    val out = direct.join(merged, "g")
    val got = out.collect()
    assert(got.length == 5000)
    got.foreach { r =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("d"), r.getAs[Array[Byte]]("m")),
        s"group ${r.getAs[Long]("g")}")
    }
    val aggs = collect(out.queryExecution.executedPlan) { case a: ObjectHashAggregateExec => a }
    def fallbacks(pick: PartialFunction[Any, Unit]): Long = aggs
      .filter(_.aggregateExpressions.exists(e => pick.isDefinedAt(e.aggregateFunction)))
      .map(_.metrics("numTasksFallBacked").value).sum
    assert(fallbacks { case _: DDSketchAgg => } > 0, "the build never fell back")
    assert(fallbacks { case _: SketchMerge => } > 0, "the merge never fell back")
  }
}
