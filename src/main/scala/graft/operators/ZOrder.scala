package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton-curve) multi-dimensional data layout.
  *
  * The reference organizes Raptor shards by their table's sort columns
  * and tracks each shard's per-column value range so the planner can
  * prune whole shards against a predicate
  * (`presto-raptor/.../organization/ShardOrganizerUtil.java:80-110`
  * builds the per-shard sort ranges; `ShardRange.java` is the pruning
  * metadata; `ShardOrganizationManager` rewrites shards into
  * sort-range-disjoint sets). A single sort column prunes ONE
  * dimension perfectly and every other dimension not at all — the
  * classic limitation once queries filter on two independent columns.
  *
  * Z-ordering is the standard multi-dimensional generalization
  * (Morton 1966; the interleaved-bit space-filling curve every
  * lakehouse OPTIMIZE implements): scale each dimension to a fixed
  * 16-bit cell, interleave the bits into one long, range-partition and
  * sort the data by that value, and every output file covers a compact
  * z-range — which projects to a SMALL value range on EVERY
  * participating dimension, so parquet footer min/max statistics prune
  * files for predicates on any subset of the z columns.
  *
  * Spark-first shape: the z-value is a codegen'd native expression
  * (one shift-and-mask loop per row inside whole-stage codegen), the
  * layout is `repartitionByRange` (Spark's sampled range exchange — at
  * 100 TB this is the same single shuffle any global sort pays) +
  * `sortWithinPartitions` + a plain parquet write; pruning needs no
  * custom reader because Spark's parquet source already evaluates
  * row-group and file statistics. `fileRanges` reads footers through
  * [[graft.Footers]], like [[Compaction]].
  */
object ZOrder {

  val Bits = 16
  val MaxCell: Long = (1L << Bits) - 1

  /** Spread `v`'s low 16 bits so bit b lands at position b*m + j —
    * the Morton interleave for dimension j of m. Clamps to the cell
    * domain so a caller-side scaling bug degrades, never corrupts. */
  def spread(v: Long, j: Int, m: Int): Long = {
    val c = math.min(math.max(v, 0L), MaxCell)
    var z = 0L
    var b = 0
    while (b < Bits) {
      z |= ((c >> b) & 1L) << (b * m + j)
      b += 1
    }
    z
  }

  def interleave2(x: Long, y: Long): Long = spread(x, 0, 2) | spread(y, 1, 2)

  def interleave3(x: Long, y: Long, z: Long): Long =
    spread(x, 0, 3) | spread(y, 1, 3) | spread(z, 2, 3)

  /** The z-value of 2 or 3 long cell columns (each already scaled to
    * [0, 65535] — see [[cell]]). */
  def zvalue(cols: Column*): Column = cols.map(ColumnBridge.toExpr) match {
    case Seq(a, b) => ColumnBridge.toCol(ZValue2(a, b))
    case Seq(a, b, c) => ColumnBridge.toCol(ZValue3(a, b, c))
    case other => throw new IllegalArgumentException(
      s"zvalue takes 2 or 3 columns, got ${other.size}")
  }

  /** Scale a long column onto the 16-bit cell grid with pure integer
    * arithmetic — `((v - min) * 65535) div (max - min)` — so an
    * external engine replays the cell (and therefore the z-value)
    * bit-exactly. min/max are layout parameters, not per-batch stats:
    * fixed bounds keep z-values stable across incremental writes. */
  def cell(c: Column, min: Long, max: Long): Column =
    if (max <= min) lit(0L)
    else {
      val scaled = (c.cast(LongType) - lit(min)) * lit(MaxCell)
      ColumnBridge.toCol(new org.apache.spark.sql.catalyst.expressions
        .IntegralDivide(ColumnBridge.toExpr(scaled),
          ColumnBridge.toExpr(lit(max - min))))
    }

  /** Write `df` z-ordered by `dims` (column -> fixed (min, max) bounds)
    * into `nFiles` range-partitioned parquet files at `path`. One
    * shuffle (the range exchange), one local sort — the cost profile of
    * a global sort, amortized over every future pruned read. */
  def write(df: DataFrame, dims: Seq[(String, (Long, Long))],
      nFiles: Int, path: String): Unit = {
    val cells = dims.map { case (name, (lo, hi)) =>
      cell(col(name), lo, hi)
    }
    df.withColumn("__z", zvalue(cells: _*))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (path, min, max) footer statistics for a long column —
    * the ShardRange analog, read metadata-only like Compaction's row
    * counts (one O(KB) footer per file, no data pages, no Spark job). */
  def fileRanges(spark: SparkSession, dir: String, column: String)
      : Seq[(String, Long, Long)] =
    fileRangesMulti(spark, dir, Seq(column))(column)

  /** One footer pass serving SEVERAL columns' per-file ranges (r17 OPT,
    * guide §1.2: q2d walked the same 8 footers once per pruning
    * dimension — the footer open/parse, not the statistics lookup, is
    * the cost, so read every dimension's min/max from a single open). */
  def fileRangesMulti(spark: SparkSession, dir: String,
      columns: Seq[String]): Map[String, Seq[(String, Long, Long)]] = {
    val footers = graft.Footers.read(spark, Seq(dir), columns).get
    // a file with no usable statistics must count as always-overlapping
    // (Spark reads it), never as prunable
    columns.map(c => c -> footers.map { f =>
      val (lo, hi) = f.ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      (f.path.getName, lo, hi)
    }).toMap
  }

  /** How many files a [lo, hi] predicate on `column` must read — the
    * pruning arithmetic Spark's parquet source performs from the same
    * statistics. */
  def filesOverlapping(ranges: Seq[(String, Long, Long)],
      lo: Long, hi: Long): Int =
    ranges.count { case (_, fLo, fHi) => fLo <= hi && fHi >= lo }
}

/** Morton interleave of two 16-bit cells — codegen'd, null-safe. */
case class ZValue2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "zvalue2"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zvalue requires bigint cells, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave2(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.ZOrder.interleave2($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Morton interleave of three 16-bit cells — codegen'd, null-safe. */
case class ZValue3(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def prettyName: String = "zvalue3"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("zvalue requires bigint cells")

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    ZOrder.interleave3(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.operators.ZOrder.interleave3($a, $b, $c)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
