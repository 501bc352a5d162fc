package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of driver-verifiable queries.
  *
  * Each entry in `defs` is a Spark implementation; a same-keyed entry in
  * `oracles` is ANSI SQL that DuckDB runs over the identical parquet tables
  * for the differential-oracle check (the Spark analog of PrestoDB's H2
  * differential harness, `presto-tests/.../H2QueryRunner.java:101`).
  * Keys present in `defs` but absent from `oracles` get the driver's weaker
  * rows-only check (used for non-SQL-expressible ops like LSH dedup).
  *
  * A gate whose oracle is the same query is written once: the pack keeps
  * one text that `defs` hands to Spark and `oracles` hands to DuckDB,
  * behind `QueryPack.withCte` where DuckDB needs the pack's derived views
  * spelled out. A second text is written only where the dialects differ,
  * as Presto's `assertQuery(sql)` does against H2.
  *
  * Column names and types must line up between the two sides — the driver
  * sorts columns by name before hashing values.
  *
  * A gate receives a session with Presto's functions and rules installed
  * and `dir`'s fixture views registered (`SparkEntry.queries` prepares
  * it), so it names fixture tables with `s.table(n)` or in SQL text and
  * prepares nothing itself.
  */
trait QueryPack {
  type Q = (SparkSession, String) => DataFrame
  def defs: Map[String, Q]
  def oracles: Map[String, String]
}

object QueryPack {
  private val leadingWith = """(?is)\s*WITH\s+(.*)""".r

  /** `q` with the common table expressions `cte` in front: joined into
    * q's own WITH list when it has one, else as a new WITH clause. */
  def withCte(cte: String, q: String): String = q match {
    case leadingWith(rest) => s"WITH $cte,\n$rest"
    case _                 => s"WITH $cte\n$q"
  }
}
