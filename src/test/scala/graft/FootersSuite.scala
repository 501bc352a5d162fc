package graft

import java.nio.file.{Files, Path => JPath, Paths}

import graft.operators.{Compaction, ZOrder}

/** The one parquet-footer reader (Footers.scala) and the callers'
  * fallback policies: row counts, long ranges that ignore all-null row
  * groups, and no result (never a throw) for a file that is not parquet. */
class FootersSuite extends GraftSuite {

  import spark.implicits._

  private def notParquet(p: JPath): JPath =
    Files.write(p, "not a parquet file".getBytes("UTF-8"))

  test("footers: rows, bytes and long ranges of a directory and a file") {
    withTempDir("graft_footers") { tmp =>
      val dir = tmp.resolve("t").toString
      (1L to 10L).map(i => (i, i * 100L)).toDF("id", "v")
        .repartition(2).write.parquet(dir)
      val all = Footers.read(spark, Seq(dir), Seq("id", "v")).get
      assert(all.size == 2 && all.map(_.rows).sum == 10L)
      assert(all.forall(f => f.bytes > 0 && f.path.getName.endsWith(".parquet")))
      assert(all.map(_.ranges("id")._1).min == 1L)
      assert(all.map(_.ranges("v")._2).max == 1000L)
      // a single file reads as itself; unrequested columns carry no range
      val one = Footers.read(spark, Seq(all.head.path.toString)).get
      assert(one.map(_.rows) == Seq(all.head.rows) && one.head.ranges.isEmpty)
      assert(Footers.rowCount(spark, Seq(dir)).contains(10L))
    }
  }

  test("an all-null long column reads as always-overlapping in ZOrder") {
    withTempDir("graft_footers_null") { tmp =>
      val dir = tmp.resolve("z").toString
      Seq(Some(5L), Some(9L)).toDF("x").coalesce(1).write.parquet(dir)
      Seq(None: Option[Long], None).toDF("x").coalesce(1)
        .write.mode("append").parquet(dir)
      val ranges = ZOrder.fileRanges(spark, dir, "x").map(r => (r._2, r._3))
      assert(ranges.sorted == Seq((Long.MinValue, Long.MaxValue), (5L, 9L)))
    }
  }

  test("an all-null timestamp column excludes the file from compaction") {
    withTempDir("graft_footers_ts") { tmp =>
      val dir = tmp.resolve("t").toString
      val tsType = "spark.sql.parquet.outputTimestampType"
      val prior = spark.conf.get(tsType)
      try {
        spark.conf.set(tsType, "TIMESTAMP_MICROS")
        Seq(Some(java.sql.Timestamp.valueOf("1995-06-01 12:00:00")))
          .toDF("ts").coalesce(1).write.parquet(dir)
        Seq(None: Option[java.sql.Timestamp]).toDF("ts").coalesce(1)
          .write.mode("append").parquet(dir)
      } finally spark.conf.set(tsType, prior)
      assert(Compaction.fileInfos(spark, dir).size == 2)
      val infos = Compaction.temporalFileInfos(spark, dir, "ts")
      assert(infos.size == 1 && infos.head.day == 9282)
    }
  }

  test("a file that is not parquet gives no footer result and no throw") {
    withTempDir("graft_footers_bad") { tmp =>
      val bad = notParquet(tmp.resolve("bad.parquet"))
      assert(Footers.read(spark, Seq(bad.toString)).isFailure)
      assert(Footers.rowCount(spark, Seq(bad.toString)).isEmpty)
      assert(Footers.rowCount(spark, Seq(bad.getParent.resolve("none").toString))
        .isEmpty)
    }
  }

  test("directories list data files by Spark's rule, suffix or not") {
    withTempDir("graft_footers_listing") { tmp =>
      val dir = tmp.resolve("t")
      (1L to 10L).toDF("id").repartition(2).write.parquet(dir.toString)
      val part = Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      // a hidden parquet file and a `_` leftover are skipped, as Spark
      // skips them; a data file without the suffix is read, as Spark
      // reads it
      Files.copy(part, dir.resolve(".x.parquet"))
      notParquet(dir.resolve("_leftover.parquet"))
      Files.copy(part, dir.resolve("extra"))
      val expected = spark.read.parquet(dir.toString).count()
      val footers = Footers.read(spark, Seq(dir.toString)).get
      assert(footers.size == 3 && footers.map(_.rows).sum == expected)
      assert(!footers.exists(_.path.getName.startsWith(".")))
      // the schema comes from a data file, not from the `_` leftover
      assert(Footers.schema(spark, dir.toString).get.map(_.dataType) ==
        spark.read.parquet(dir.toString).schema.map(_.dataType))
    }
  }

  test("Tables.rowCount falls back to count() when a footer read fails") {
    // a fixture dir whose region table is partitioned: Spark's listing
    // discovers the partition directories, the flat footer listing finds
    // no data file, so only count() can answer
    withTempDir("graft_footers_sf") { sf =>
      Tables.names.filter(_ != "region").foreach { n =>
        Files.createSymbolicLink(sf.resolve(s"$n.parquet"),
          Paths.get(SfDir, s"$n.parquet"))
      }
      val region = sf.resolve("region.parquet")
      spark.read.parquet(s"$SfDir/region.parquet").write
        .partitionBy("r_regionkey").parquet(region.toString)
      val expected = spark.read.parquet(s"$SfDir/region.parquet").count()
      try {
        assert(Footers.rowCount(spark, Seq(region.toString)).isEmpty)
        assert(Tables.rowCount(spark, sf.toString, "region") == expected)
      } finally Tables.register(spark, SfDir)
    }
  }
}
