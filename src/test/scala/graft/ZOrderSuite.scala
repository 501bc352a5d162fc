package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder

/** Z-order layout (operators/ZOrder.scala): the Morton interleave
  * expression, integer cell scaling, and the property the layout
  * exists for — parquet footer min/max statistics prune files on
  * EVERY z dimension, where a single-column sort prunes only its own.
  */
class ZOrderSuite extends GraftSuite {

  test("morton interleave: known bit patterns, clamping, nulls") {
    assert(ZOrder.interleave2(1L, 0L) == 1L)
    assert(ZOrder.interleave2(0L, 1L) == 2L)
    assert(ZOrder.interleave2(3L, 0L) == 5L) // bits 0,2
    assert(ZOrder.interleave2(0L, 3L) == 10L) // bits 1,3
    assert(ZOrder.interleave2(0xFFFFL, 0L) == 0x55555555L)
    assert(ZOrder.interleave2(0L, 0xFFFFL) == 0xAAAAAAAAL)
    assert(ZOrder.interleave2(0xFFFFL, 0xFFFFL) == 0xFFFFFFFFL)
    // 001 repeated per bit of dim 0 in 3 dims
    assert(ZOrder.interleave3(0xFFFFL, 0L, 0L) == 0x249249249249L)
    assert(ZOrder.interleave3(0xFFFFL, 0xFFFFL, 0xFFFFL) ==
      0xFFFFFFFFFFFFL)
    // out-of-domain cells clamp instead of corrupting neighbors' bits
    assert(ZOrder.spread(-5L, 0, 2) == 0L)
    assert(ZOrder.spread(1L << 20, 0, 2) == ZOrder.spread(0xFFFFL, 0, 2))

    val df = spark.range(4).select(
      ZOrder.zvalue(col("id"), col("id") * 2).as("z"),
      ZOrder.zvalue(lit(null).cast("bigint"), col("id")).as("zn"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(0L, ZOrder.interleave2(1, 2), ZOrder.interleave2(2, 4),
        ZOrder.interleave2(3, 6)))
    assert(df.collect().forall(_.isNullAt(1)))
  }

  test("cell scaling is exact integer arithmetic over fixed bounds") {
    val df = spark.range(0, 256).select(
      ZOrder.cell(col("id"), 0L, 255L).as("c"),
      ZOrder.cell(col("id"), 0L, 0L).as("degenerate"))
    val rows = df.collect()
    // 65535/255 = 257 exactly: the closed form replays bit-for-bit
    assert(rows.map(_.getLong(0)).toSeq == (0 until 256).map(_ * 257L))
    assert(rows.forall(_.getLong(1) == 0L))
  }

  test("z-layout prunes files on BOTH dimensions; x-sort on one") {
    import spark.implicits._
    // two independent uniform dims on the full 16-bit cell grid
    val n = 16384
    val data = (0 until n).map { i =>
      ((i.toLong * 37L) % 65536L, (i.toLong * 101L) % 65536L)
    }.toDF("x", "y")
    withTempDir("graft_zorder") { tmp =>
      val base = tmp.toString
      val zDir = s"$base/z"
      val xDir = s"$base/x"
      ZOrder.write(data, Seq("x" -> (0L, 65535L), "y" -> (0L, 65535L)),
        nFiles = 16, zDir)
      // the single-column baseline: same cost (one range exchange + sort)
      data.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(xDir)

      val zx = ZOrder.fileRanges(spark, zDir, "x")
      val zy = ZOrder.fileRanges(spark, zDir, "y")
      val lx = ZOrder.fileRanges(spark, xDir, "x")
      val ly = ZOrder.fileRanges(spark, xDir, "y")
      assert(zx.size == 16 && lx.size == 16)

      val (lo, hi) = (0L, 8191L) // a 1/8 slice of the domain
      // the x-sorted layout prunes x perfectly and y not at all
      assert(ZOrder.filesOverlapping(lx, lo, hi) <= 3)
      assert(ZOrder.filesOverlapping(ly, lo, hi) == 16)
      // the z layout prunes BOTH dimensions: each file is a compact
      // z-range = a small tile in (x, y) space
      val zxHit = ZOrder.filesOverlapping(zx, lo, hi)
      val zyHit = ZOrder.filesOverlapping(zy, lo, hi)
      assert(zxHit <= 8, s"x overlap $zxHit of 16")
      assert(zyHit <= 8, s"y overlap $zyHit of 16")

      // and the layout loses nothing: both reads return identical rows
      val zRead = spark.read.parquet(zDir)
        .filter(col("y") <= hi).agg(count(lit(1)), sum(col("x")))
        .head()
      val xRead = spark.read.parquet(xDir)
        .filter(col("y") <= hi).agg(count(lit(1)), sum(col("x")))
        .head()
      assert(zRead == xRead)
    }
  }
}
