package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Presto scalar functions with no direct Spark builtin, composed from
  * codegen'd built-in expressions (Spark-first preference: compose before
  * custom `Expression`, custom `Expression` before UDF — every function
  * here stays inside whole-stage codegen).
  *
  * Reference implementations:
  *  - width_bucket: `presto-main/.../scalar/MathFunctions.java` (widthBucket)
  *  - cosine_similarity: `MathFunctions.java` (map form); array form used by
  *    the similarity operators over the `embeddings` fixture
  *  - from_base/to_base: `MathFunctions.java`
  *  - date_parse/date_format (MySQL patterns): `DateTimeFunctions.java`
  *    with pattern table from `presto-main/.../type/DateTimeOperators` usage
  */
object PrestoScalars {

  /** Presto width_bucket(x, lo, hi, n): 0 below, n+1 at/above hi, else
    * 1-based equal-width bucket. */
  def widthBucket(x: Column, lo: Column, hi: Column, n: Column): Column =
    when(x < lo, lit(0L))
      .when(x >= hi, n.cast("long") + 1L)
      .otherwise((floor((x - lo) / ((hi - lo) / n.cast("double"))) + 1L).cast("long"))

  /** Cosine similarity of two double arrays (the embeddings hot path):
    * a native codegen'd expression — one fused multiply-accumulate loop,
    * same sequential summation order as the DuckDB oracle's
    * `list_dot_product`, so results match bit-for-bit. (The
    * `aggregate(zip_with(...))` composition this replaces is
    * CodegenFallback — interpreted with per-element boxing.) */
  def cosineSimilarity(a: Column, b: Column): Column =
    VectorExpressions.cosine(a, b)

  /** Presto to_base(x, radix): number → string in radix. */
  def toBase(x: Column, radix: Int): Column = conv(x.cast("string"), 10, radix)

  /** Presto from_base(s, radix): string in radix → bigint. */
  def fromBase(s: Column, radix: Int): Column =
    conv(s, radix, 10).cast("long")

  /** MySQL → java.time pattern translation for Presto's date_parse /
    * date_format family (%Y-%m-%d ↔ yyyy-MM-dd). */
  def mysqlToJavaPattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 1 < p.length) {
        sb.append(p.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'c' => "M"
          case 'd' => "dd"
          case 'e' => "d"
          case 'H' => "HH"
          case 'k' => "H"
          case 'h' | 'I' => "hh"
          case 'i' => "mm"
          case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'W' => "EEEE"
          case 'a' => "EEE"
          case 'M' => "MMMM"
          case 'b' => "MMM"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case '%' => "%"
          case other => other.toString
        })
        i += 2
      } else {
        // literal chars that are pattern letters in java.time need quoting
        if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Presto date_parse(string, mysqlPattern) — pattern must be a literal. */
  def dateParse(s: Column, mysqlPattern: String): Column =
    to_timestamp(s, mysqlToJavaPattern(mysqlPattern))

  /** Presto date_format(ts, mysqlPattern) — pattern must be a literal. */
  def dateFormatMysql(ts: Column, mysqlPattern: String): Column =
    date_format(ts, mysqlToJavaPattern(mysqlPattern))
}

/** Presto `json_array_get(json, index)` (`JsonFunctions.java:375-431`),
  * faithfully: a streaming token walk — scalars render via the parser's
  * value text (strings UNQUOTED, numbers in their RAW spelling: `1.50`
  * stays `1.50`), object/array elements as compact JSON trees, a JSON
  * `null` element returns SQL NULL, negative indices count from the end
  * via a bounded ring of the trailing |index| elements, out-of-range /
  * non-array / malformed input → NULL. The previous get_json_object
  * template canonicalized numbers and rendered JSON null as the 4-char
  * string — the two divergences this expression closes (r8c). */
case class JsonArrayGet(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "json_array_get"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType | IntegerType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (json varchar, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def nullSafeEval(j: Any, i: Any): Any = {
    val index = i match {
      case l: Long => l
      case n: Number => n.longValue()
    }
    if (index == Long.MinValue) return null
    val parser = mapper.getFactory.createParser(j.toString)
    try {
      import com.fasterxml.jackson.core.JsonToken._
      if (parser.nextToken() != START_ARRAY) return null
      // trailing ring for negative indices, like the reference
      val ring = if (index < 0)
        new java.util.LinkedList[String]() else null
      var count = 0L
      while (true) {
        val token = parser.nextToken()
        if (token == null) return null
        if (token == END_ARRAY) {
          if (ring != null && count >= -index) {
            val el = ring.getFirst
            return if (el == null) null else UTF8String.fromString(el)
          }
          return null
        }
        val el: String =
          if (token == START_OBJECT || token == START_ARRAY)
            mapper.readTree[com.fasterxml.jackson.databind.JsonNode](parser)
              .toString
          else if (token == VALUE_NULL) null
          else parser.getValueAsString
        if (count == index)
          return if (el == null) null else UTF8String.fromString(el)
        if (ring != null) {
          ring.add(el)
          if (count >= -index) ring.removeFirst()
        }
        count += 1
      }
      null
    } catch {
      // JacksonException extends IOException — one arm covers both
      case _: java.io.IOException => null
    } finally parser.close()
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(left = l, right = r)
}

/** Presto `json_array_contains(json, value)` (`JsonFunctions.java:
  * 207-356`), all four overloads as one expression dispatching on the
  * probe's type: booleans match VALUE_TRUE/FALSE; bigints match ONLY
  * integral number tokens (json `[1.0]` does NOT contain bigint 1);
  * doubles match ONLY float number tokens with exact double equality
  * (json `[1]` does NOT contain double 1.0) and a non-finite probe is
  * immediately false; varchars match string tokens by text. Nested
  * elements are skipped (skipChildren), non-array / malformed input →
  * SQL NULL. The previous template compared canonicalized strings,
  * which coincided for strings/booleans/integers but not for the
  * int-vs-float token distinction this walk preserves. */
case class JsonArrayContains(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types._

  override def prettyName: String = "json_array_contains"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType,
          BooleanType | LongType | IntegerType | ShortType | ByteType |
          DoubleType | FloatType | StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (json varchar, boolean|bigint|double|varchar)," +
          s" got (${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def nullSafeEval(j: Any, v: Any): Any = {
    import com.fasterxml.jackson.core.JsonParser.NumberType
    import com.fasterxml.jackson.core.JsonToken._
    // Reference short-circuit (JsonFunctions.java jsonArrayContains,
    // double overload): a non-finite probe returns false BEFORE the JSON
    // is parsed — even against malformed or non-array input, where the
    // normal path would return NULL.
    right.dataType match {
      case org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.FloatType
          if !java.lang.Double.isFinite(v.asInstanceOf[Number].doubleValue()) =>
        return false
      case _ =>
    }
    val parser = mapper.getFactory.createParser(j.toString)
    try {
      if (parser.nextToken() != START_ARRAY) return null
      while (true) {
        val token = parser.nextToken()
        if (token == null) return null
        if (token == END_ARRAY) return false
        parser.skipChildren()
        val hit = right.dataType match {
          case BooleanType =>
            val b = v.asInstanceOf[Boolean]
            (token == VALUE_TRUE && b) || (token == VALUE_FALSE && !b)
          case LongType | IntegerType | ShortType | ByteType =>
            token == VALUE_NUMBER_INT &&
              (parser.getNumberType == NumberType.INT ||
                parser.getNumberType == NumberType.LONG) &&
              parser.getLongValue == v.asInstanceOf[Number].longValue()
          case DoubleType | FloatType =>
            val d = v.asInstanceOf[Number].doubleValue()
            java.lang.Double.isFinite(d) &&
              token == VALUE_NUMBER_FLOAT && parser.getDoubleValue == d &&
              java.lang.Double.isFinite(parser.getDoubleValue)
          case _ =>
            token == VALUE_STRING &&
              v.toString == parser.getValueAsString
        }
        if (hit) return true
      }
      null
    } catch {
      case _: java.io.IOException => null
    } finally parser.close()
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(left = l, right = r)
}

/** Mongo `objectid(varchar)` — the presto-mongodb constructor
  * (`presto-mongodb/.../ObjectIdFunctions.java:48-54`): spaces removed
  * (the reference's CharMatcher strip), then the 24-hex-char ObjectId
  * parsed to its 12 bytes, loudly invalid otherwise (the reference's
  * ObjectId constructor throws). Represented as VARBINARY: Spark's
  * unsigned bytewise binary comparison IS ObjectId.compareTo
  * (`:114-117`), so =, <, BETWEEN, ORDER BY and join keys come free
  * with the reference's semantics. */
case class ObjectIdFromString(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types._

  override def prettyName: String = "objectid"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a varchar ObjectId, got ${dt.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val s = v.toString.replace(" ", "")
    require(s.length == 24 && s.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')),
      s"invalid ObjectId [$s]")
    val out = new Array[Byte](12)
    var i = 0
    while (i < 12) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = c)
}

/** Mongo `objectid()` — the generator overload
  * (`ObjectIdFunctions.java:40-46`): 4-byte big-endian epoch seconds,
  * then 8 bytes of per-row randomness (the reference delegates to the
  * bson ObjectId generator: machine/process/counter). Nondeterministic
  * by contract, like the reference. */
case class ObjectIdGen()
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.Nondeterministic
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types._

  override def prettyName: String = "objectid"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  @transient private var rng: java.util.Random = _
  override protected def initializeInternal(partitionIndex: Int): Unit =
    rng = new java.util.Random(partitionIndex.toLong * 0x9e3779b97f4a7c15L ^
      System.nanoTime())

  override protected def evalInternal(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Byte](12)
    val secs = (System.currentTimeMillis() / 1000L).toInt
    out(0) = (secs >> 24).toByte; out(1) = (secs >> 16).toByte
    out(2) = (secs >> 8).toByte; out(3) = secs.toByte
    val tail = new Array[Byte](8)
    rng.nextBytes(tail)
    System.arraycopy(tail, 0, out, 4, 8)
    out
  }
}
