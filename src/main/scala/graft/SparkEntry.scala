package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Registry
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in per-category packs under `graft.queries`; this object is
  * the aggregation point the driver reads.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    Relational, Windows, SetOps, Aggregates, Scalars, Json, Unnest, ApproxMaps,
    Dedup, Ann, TextAnalysis, RegistrySql, TpchSql, TpcdsSql, Media, Events,
    Storage, HiveLayout, Sketches, TrySemantics, StructOps, Views, Curation,
    Geo, Ml, Connectors)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * The one place a gate's session is prepared, as Presto's coordinator
    * binds a query's function namespaces and catalogs before it runs:
    * each entry installs Presto's functions and rules (`Registry.install`)
    * and registers `dir`'s fixture views (`Tables.register`), then runs
    * the pack's gate. Both calls are idempotent per session, so a gate
    * plans the same whichever gates ran before it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.defs).map { case (name, gate) =>
      name -> { (s: SparkSession, dir: String) =>
        Registry.install(s)
        Tables.register(s, dir)
        gate(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
