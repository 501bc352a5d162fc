package graft.queries

import org.apache.spark.sql.functions._

/** Presto TRY / try_cast semantics (SURVEY §2 #48 "hard part"): errors
  * become NULL instead of failing the query.
  *
  * Reference: `presto-main/.../scalar/TryFunction.java`,
  * `TryCastFunction.java` — Presto wraps the expression and swallows
  * `PrestoException`s of the INVALID_CAST/DIVISION_BY_ZERO family.
  * Spark-first mapping: the `try_*` expression family (try_cast,
  * try_divide, try_to_timestamp, try_element_at, try_add) — same
  * null-on-error contract, still codegen'd, no exception control flow on
  * the hot path (Spark compiles the guard in, exactly like Presto).
  *
  * The oracle mirrors the SEMANTICS (TRY_CAST, guarded CASE for division)
  * rather than the syntax, so both engines must agree on which rows
  * null out.
  */
object TrySemantics extends QueryPack {

  override def defs: Map[String, Q] = Map(
    "qb0_try_semantics" -> ((s, dir) =>
      s.table("part")
        .filter(col("p_partkey") <= 300)
        .select(
          col("p_partkey"),
          // numeric prefix of a word → almost always NULL
          expr("try_cast(substr(p_type, 1, 3) AS INT)").as("bad_int"),
          expr("try_cast(cast(p_size AS STRING) AS INT)").as("good_int"),
          // division by (p_size - p_size) = 0 → NULL, not error
          expr("try_divide(p_retailprice, p_size - p_size)").as("div0"),
          expr("try_divide(p_retailprice, p_size)").as("div_ok"),
          // garbage timestamp → NULL
          expr("try_to_timestamp(p_brand, 'yyyy-MM-dd')").as("bad_ts"),
          // out-of-bounds array access → NULL
          expr("try_element_at(split(p_type, ' '), 99)").as("oob"),
          expr("try_element_at(split(p_type, ' '), 1)").as("first_word"),
          // overflow-guarded arithmetic survives at bigint range
          expr("try_add(cast(p_partkey AS BIGINT), 9223372036854775807)")
            .as("overflow_add"))
        .orderBy(col("p_partkey")))
  )

  override def oracles: Map[String, String] = Map(
    "qb0_try_semantics" ->
      """SELECT p_partkey,
        |  TRY_CAST(substr(p_type, 1, 3) AS INTEGER) AS bad_int,
        |  TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS good_int,
        |  CASE WHEN p_size - p_size = 0 THEN NULL
        |       ELSE p_retailprice / (p_size - p_size) END AS div0,
        |  p_retailprice / p_size AS div_ok,
        |  TRY_CAST(p_brand AS TIMESTAMP) AS bad_ts,
        |  list_extract(string_split(p_type, ' '), 99) AS oob,
        |  list_extract(string_split(p_type, ' '), 1) AS first_word,
        |  CASE WHEN p_partkey <= 0 THEN p_partkey + 9223372036854775807
        |       ELSE NULL END AS overflow_add
        |FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""".stripMargin
  )
}
