package graft.sources

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.util.{DateTimeUtils, SQLOrderingUtil}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One end of a [[Range]]: a value, and whether the range holds it. */
final case class Bound(value: Any, inclusive: Boolean)

/** The values between `lo` and `hi`; a missing bound is unbounded. */
final case class Range(lo: Option[Bound], hi: Option[Bound])

object Range {
  val All: Range = Range(None, None)
  def single(v: Any): Range = Range(Some(Bound(v, true)), Some(Bound(v, true)))
}

/** The values one column may take, in the shape of Presto's `Domain`
  * over a `SortedRangeSet` (`presto-common/.../predicate/Domain.java`,
  * `SortedRangeSet.java`): sorted, disjoint, non-empty `ranges` of
  * non-null values, and whether NULL is allowed. A single value is a
  * range whose two bounds are that value, inclusive.
  *
  * Values are held as [[Domain.value]] makes them for `dt`: a long for
  * bigint and for timestamp (microseconds), an int for int, a double, a
  * `String` or a boolean. [[contains]] takes a stored value or a
  * Catalyst one and compares with the one typed order of `dt`, which is
  * Spark's: a long is never compared as a double, doubles order NaN
  * last and -0.0 equal to 0.0, and strings order by code point. */
final case class Domain(dt: DataType, ranges: Vector[Range],
    nullAllowed: Boolean) {

  @transient private lazy val ord: Ordering[Any] = Domain.ordering(dt)

  def isNone: Boolean = ranges.isEmpty && !nullAllowed
  /** Every non-null value and no NULL: IS NOT NULL. */
  def isNotNull: Boolean = !nullAllowed && ranges == Vector(Range.All)
  /** NULL only: IS NULL. */
  def isOnlyNull: Boolean = nullAllowed && ranges.isEmpty

  private def single(r: Range): Boolean = (r.lo, r.hi) match {
    case (Some(l), Some(h)) => l.inclusive && h.inclusive &&
      ord.equiv(l.value, h.value)
    case _ => false
  }

  /** The values, when the domain is a non-empty set of single values
    * without NULL: `=` and `IN`. An `ArraySeq`, as Spark hands a
    * connector the values of an `IN`. */
  def values: Option[Seq[Any]] =
    if (!nullAllowed && ranges.nonEmpty && ranges.forall(single))
      Some(ranges.iterator.map(_.lo.get.value).to(ArraySeq))
    else None

  /** The one range, when the domain is a single range with a bound that
    * is not a single value, without NULL: `<`, `<=`, `>`, `>=`. */
  def interval: Option[Range] = ranges match {
    case Vector(r) if !nullAllowed && r != Range.All && !single(r) => Some(r)
    case _ => None
  }

  /** The smallest range that holds every non-null value. */
  def span: Option[Range] =
    if (ranges.isEmpty) None else Some(Range(ranges.head.lo, ranges.last.hi))

  /** For a bigint domain, the span as an inclusive `[lo, hi]`; None when
    * no value is allowed. An exclusive bound steps inward only where it
    * cannot overflow: `> Long.MaxValue` holds nothing. */
  def longSpan: Option[(Long, Long)] = span.flatMap { r =>
    def long(b: Bound) = b.value.asInstanceOf[Number].longValue()
    val lo = r.lo.fold(Option(Long.MinValue)) { b =>
      if (b.inclusive) Some(long(b))
      else if (long(b) == Long.MaxValue) None
      else Some(long(b) + 1)
    }
    val hi = r.hi.fold(Option(Long.MaxValue)) { b =>
      if (b.inclusive) Some(long(b))
      else if (long(b) == Long.MinValue) None
      else Some(long(b) - 1)
    }
    for (l <- lo; h <- hi if l <= h) yield (l, h)
  }

  private def admitsLo(r: Range, v: Any): Boolean = r.lo.forall { b =>
    val c = ord.compare(v, b.value); c > 0 || (c == 0 && b.inclusive)
  }
  private def admitsHi(r: Range, v: Any): Boolean = r.hi.forall { b =>
    val c = ord.compare(v, b.value); c < 0 || (c == 0 && b.inclusive)
  }

  /** Whether the domain holds `v`; NULL is held only when allowed. */
  def contains(v: Any): Boolean =
    if (v == null) nullAllowed
    else {
      // the last range whose lower end is at or below v, by bisection
      var l = 0
      var h = ranges.length
      while (l < h) {
        val m = (l + h) >>> 1
        if (ranges(m).lo.forall(b => ord.compare(b.value, v) <= 0)) l = m + 1
        else h = m
      }
      val i = l - 1
      i >= 0 && admitsHi(ranges(i), v) && admitsLo(ranges(i), v)
    }

  private def maxLo(a: Option[Bound], b: Option[Bound]): Option[Bound] =
    (a, b) match {
      case (None, _) => b
      case (_, None) => a
      case (Some(x), Some(y)) =>
        val c = ord.compare(x.value, y.value)
        if (c > 0) a else if (c < 0) b
        else Some(Bound(x.value, x.inclusive && y.inclusive))
    }
  private def minHi(a: Option[Bound], b: Option[Bound]): Option[Bound] =
    (a, b) match {
      case (None, _) => b
      case (_, None) => a
      case (Some(x), Some(y)) =>
        val c = ord.compare(x.value, y.value)
        if (c < 0) a else if (c > 0) b
        else Some(Bound(x.value, x.inclusive && y.inclusive))
    }
  private def nonEmpty(r: Range): Boolean = (r.lo, r.hi) match {
    case (Some(l), Some(h)) =>
      val c = ord.compare(l.value, h.value)
      c < 0 || (c == 0 && l.inclusive && h.inclusive)
    case _ => true
  }
  /** Whether `a` ends at or before `b` ends. */
  private def endsFirst(a: Range, b: Range): Boolean = (a.hi, b.hi) match {
    case (_, None) => true
    case (None, _) => false
    case (Some(x), Some(y)) =>
      val c = ord.compare(x.value, y.value)
      c < 0 || (c == 0 && (!x.inclusive || y.inclusive))
  }

  /** The values both domains hold. */
  def intersect(o: Domain): Domain = {
    require(o.dt == dt,
      s"domain of ${dt.catalogString} and ${o.dt.catalogString}")
    val out = Vector.newBuilder[Range]
    var i = 0
    var j = 0
    while (i < ranges.length && j < o.ranges.length) {
      val (a, b) = (ranges(i), o.ranges(j))
      val r = Range(maxLo(a.lo, b.lo), minHi(a.hi, b.hi))
      if (nonEmpty(r)) out += r
      if (endsFirst(a, b)) i += 1 else j += 1
    }
    Domain(dt, out.result(), nullAllowed && o.nullAllowed)
  }

  /** Whether some value of `r` is in the domain. */
  def overlaps(r: Range): Boolean =
    !intersect(Domain(dt, Vector(r), nullAllowed = false)).isNone
}

object Domain {

  /** The column types a domain is built over. */
  def supports(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType |
         TimestampType => true
    case _ => false
  }

  /** Spark's order of non-null values of `dt`, over stored and Catalyst
    * values alike (any `Number` for the numeric types, a `String` or
    * `UTF8String` for strings). */
  def ordering(dt: DataType): Ordering[Any] = dt match {
    case LongType | IntegerType | TimestampType => (a, b) =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
    case DoubleType => (a, b) =>
      SQLOrderingUtil.compareDoubles(a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
    case StringType => (a, b) => compareCodePoints(a.toString, b.toString)
    case BooleanType => (a, b) => java.lang.Boolean.compare(
      a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case other => sys.error(s"no domain order for ${other.catalogString}")
  }

  /** UTF-8 byte order, which is Spark's string order, over UTF-16 text:
    * surrogates sort above the rest of the basic plane. */
  private def compareCodePoints(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      var x: Int = a.charAt(i)
      var y: Int = b.charAt(i)
      if (x != y) {
        if (x >= 0xd800 && y >= 0xd800) {
          x = if (x >= 0xe000) x - 0x800 else x + 0x2000
          y = if (y >= 0xe000) y - 0x800 else y + 0x2000
        }
        return x - y
      }
      i += 1
    }
    a.length - b.length
  }

  /** A literal or stored value as a domain of `dt` holds it; None for
    * NULL or a value of another type. */
  def value(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType, n @ (_: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Short | _: java.lang.Byte)) =>
      Some(n.asInstanceOf[Number].longValue())
    case (IntegerType, n @ (_: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte)) =>
      Some(n.asInstanceOf[Number].intValue())
    case (DoubleType, n: Number) => Some(n.doubleValue())
    case (StringType, s @ (_: String | _: UTF8String)) => Some(s.toString)
    case (BooleanType, b: Boolean) => Some(b)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, t: java.time.Instant) =>
      Some(DateTimeUtils.instantToMicros(t))
    case _ => None
  }

  def notNull(dt: DataType): Domain = Domain(dt, Vector(Range.All), false)
  def onlyNull(dt: DataType): Domain = Domain(dt, Vector.empty, true)

  /** The distinct `values`, without NULL. */
  def of(dt: DataType, values: Seq[Any]): Domain = {
    val ord = ordering(dt)
    val sorted = values.sorted(ord)
    val distinct = sorted.headOption.toVector ++ sorted.zip(sorted.drop(1))
      .collect { case (a, b) if !ord.equiv(a, b) => b }
    Domain(dt, distinct.map(Range.single), nullAllowed = false)
  }
}

/** The constraint on a row, in the shape of Presto's `TupleDomain`
  * (`presto-common/.../predicate/TupleDomain.java`): one [[Domain]] per
  * constrained column, all of which must hold. It is every connector's
  * one predicate surface: Spark's filters are translated here once,
  * and a connector only decides which columns and domain shapes it
  * enforces and maps those to its native form. */
final case class TupleDomain(domains: Map[String, Domain]) {

  def get(column: String): Option[Domain] = domains.get(column)

  /** No row can hold. */
  def isNone: Boolean = domains.values.exists(_.isNone)

  def intersect(o: TupleDomain): TupleDomain =
    TupleDomain(o.domains.foldLeft(domains) { case (acc, (c, d)) =>
      acc.updated(c, acc.get(c).fold(d)(_.intersect(d)))
    })

  /** Whether a row holds, reading each constrained column by name. */
  def matches(value: String => Any): Boolean =
    domains.forall { case (c, d) => d.contains(value(c)) }
}

object TupleDomain {

  val All: TupleDomain = TupleDomain(Map.empty)

  /** The domain of one Spark filter over columns typed by `typeOf`: `=`,
    * `IN`, `<`, `<=`, `>`, `>=`, `IS [NOT] NULL` and their `AND`, each
    * literal made a value of its column's type. None for any other
    * filter, a column of a type without a domain, a NULL literal or an
    * `IN` list holding NULL. */
  def of(f: Filter, typeOf: String => Option[DataType]): Option[TupleDomain] = {
    def on(column: String)(domain: DataType => Option[Domain]) =
      typeOf(column).filter(Domain.supports).flatMap(domain)
        .map(d => TupleDomain(Map(column -> d)))
    def range(column: String, v: Any, lo: Boolean, inclusive: Boolean) =
      on(column)(dt => Domain.value(dt, v).map { x =>
        val b = Some(Bound(x, inclusive))
        Domain(dt, Vector(if (lo) Range(b, None) else Range(None, b)), false)
      })
    f match {
      case EqualTo(c, v) =>
        on(c)(dt => Domain.value(dt, v).map(x => Domain.of(dt, Seq(x))))
      case In(c, vs) if vs.nonEmpty => on(c) { dt =>
        val xs = vs.toSeq.map(Domain.value(dt, _))
        if (xs.forall(_.isDefined)) Some(Domain.of(dt, xs.flatten)) else None
      }
      case GreaterThan(c, v) => range(c, v, lo = true, inclusive = false)
      case GreaterThanOrEqual(c, v) => range(c, v, lo = true, inclusive = true)
      case LessThan(c, v) => range(c, v, lo = false, inclusive = false)
      case LessThanOrEqual(c, v) => range(c, v, lo = false, inclusive = true)
      case IsNull(c) => on(c)(dt => Some(Domain.onlyNull(dt)))
      case IsNotNull(c) => on(c)(dt => Some(Domain.notNull(dt)))
      case And(l, r) =>
        for (a <- of(l, typeOf); b <- of(r, typeOf)) yield a.intersect(b)
      case _ => None
    }
  }

  /** The filters whose domain `takes` accepts on every column, with the
    * intersection of their domains; a connector enforces that domain
    * and hands the other filters back to Spark. */
  def push(filters: Array[Filter], typeOf: String => Option[DataType])(
      takes: (String, Domain) => Boolean): (Array[Filter], TupleDomain) = {
    val taken = filters.flatMap(f => of(f, typeOf)
      .filter(_.domains.forall(takes.tupled)).map(f -> _))
    (taken.map(_._1), taken.map(_._2).foldLeft(All)(_ intersect _))
  }

  /** A column's type in `schema`. */
  def types(schema: StructType): String => Option[DataType] = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    byName.get
  }
}
