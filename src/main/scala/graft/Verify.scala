package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each gate that
  * throws is listed with its message in failed.json (`{}` when none). */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated name prefixes — dev-only filter
    // for fast single-pack iteration; the driver always passes two args.
    val (sfDir, outDir, prefixes) = args match {
      case Array(a, b)    => (a, b, Seq(""))
      case Array(a, b, p) => (a, b, p.split(",").toSeq)
    }
    def keep(name: String): Boolean = prefixes.exists(name.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = String.valueOf(e.getMessage)
        if (sys.env.contains("GRAFT_VERIFY_TRACE")) e.printStackTrace()
      }
      finally sources.Stores.releaseAll() // no store outlives its gate
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failed.json"), obj(failed))
    spark.stop()
  }
}
