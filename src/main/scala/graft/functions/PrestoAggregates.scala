package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Presto aggregate functions Spark lacks as built-ins, expressed as
  * compositions of built-in (codegen'd, partial-aggregatable) aggregates —
  * the Spark-first preference over opaque UDAFs, which would break
  * whole-stage codegen and map-side combine.
  *
  * Reference implementations:
  *  - geometric_mean: `presto-main/.../aggregation/DoubleGeometricMeanAggregations.java`
  *  - entropy: `presto-main/.../aggregation/EntropyAggregation.java`
  *  - checksum: `presto-main/.../aggregation/ChecksumAggregationFunction.java`
  *    (order-independent XOR of per-row hashes)
  *  - bool_and/bool_or: `BooleanAndAggregation.java` / `BooleanOrAggregation.java`
  *  - count_if: `CountIfAggregation.java`
  *
  * Each expands to sums/avgs that Spark executes as partial+final hash
  * aggregation — at 100 TB every one of these is a single shuffle of
  * small partial states, identical in shape to Presto's
  * partial/final Step machinery (`AggregationNode.Step`).
  */
object PrestoAggregates {

  /** exp of the mean of logs; matches Presto geometric_mean for x > 0. */
  def geometricMean(c: Column): Column = exp(avg(log(c)))

  /** Shannon entropy (bits) of a distribution given per-row counts `c`:
    * -Σ (c/S) log2 (c/S)  =  log2(S) - Σ c·log2(c) / S,  S = Σc.
    * Streaming-safe: two sums, no per-group state beyond two doubles.
    */
  def entropy(c: Column): Column = {
    val cd = c.cast("double")
    val s = sum(cd)
    val weighted = sum(when(cd > 0, cd * log(2.0, cd)).otherwise(lit(0.0)))
    when(s > 0, log(2.0, s) - weighted / s).otherwise(lit(0.0))
  }

  /** Order-independent checksum: XOR of a 60-bit hash of each row value.
    * Uses md5 (available in every engine) so the differential oracle can
    * reproduce it; Presto uses xxhash64 internally — same contract
    * (commutative, associative, drop-in for distributed merge).
    */
  def checksum(c: Column): Column =
    bit_xor(TextExpressions.md5Prefix60(c.cast("string")))

  /** Presto `arbitrary(x)` ≈ any non-null value of the group. Spark's
    * `first(ignoreNulls = true)` has the same contract (nondeterministic
    * under distribution — oracle checks must feed it group-constant input).
    * Reference: `aggregation/ArbitraryAggregationFunction.java`. */
  def arbitrary(c: Column): Column = first(c, ignoreNulls = true)

  /** Presto `reduce_agg(x, 1, (a, b) -> a * b, (a, b) -> a * b)` instantiated
    * for multiplication: a genuine two-phase `Aggregator` — `reduce` is the
    * input lambda, `merge` the combine lambda — so partial states flow
    * map-side exactly like Presto's partial/final Step machinery.
    * Reference: `aggregation/ReduceAggregationFunction.java`. */
  object ProductAgg extends org.apache.spark.sql.expressions.Aggregator[java.lang.Double, Double, Double] {
    override def zero: Double = 1.0
    override def reduce(b: Double, a: java.lang.Double): Double =
      if (a == null) b else b * a.doubleValue()
    override def merge(b1: Double, b2: Double): Double = b1 * b2
    override def finish(b: Double): Double = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** DataFrame-callable product aggregate built from [[ProductAgg]]. */
  lazy val productAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(ProductAgg,
      org.apache.spark.sql.Encoders.DOUBLE)
}
