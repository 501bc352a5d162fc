package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame

import graft.queries.TpcdsSql

/** The cold-start shortcuts and their fallbacks: parquet schemas read
  * from the footer (`Footers.schema`, `Tables.parquet`) instead of a
  * schema-inference job, and TPC-DS facts written on the first query
  * that names them, per (session, dir). */
class ColdStartSuite extends GraftSuite {

  import spark.implicits._

  private val otherDir =
    new java.io.File(SfDir).getParentFile.toPath.resolve("sf0.01").toString

  /** Row count and a hash of the sorted rows. */
  private def fingerprint(df: DataFrame): (Long, Int) = {
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted
    (rows.length.toLong, scala.util.hashing.MurmurHash3.seqHash(rows.toSeq))
  }

  /** The view's files when it reads materialized facts, else empty. */
  private def factFiles(t: String): Set[String] =
    spark.table(t).inputFiles.filter(_.contains("graft_tpcds_mat")).toSet

  private val facts = TpcdsSql.factNames

  private def run(gate: String, dir: String = SfDir): Array[String] =
    SparkEntry.queries(gate)(spark, dir).collect().map(_.toString)

  test("footer schemas equal Spark's inferred schemas: fixtures and facts") {
    Tables.register(spark, SfDir) // sets nanosAsLong, which events needs
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Tables.names.foreach { n =>
      val p = s"$SfDir/$n.parquet"
      assert(Footers.schema(spark, p).get == spark.read.parquet(p).schema, n)
    }
    run("qz2_tpcds_q80") // names all six facts
    facts.foreach { t =>
      val files = factFiles(t)
      assert(files.nonEmpty, s"$t not materialized")
      val dir = new org.apache.hadoop.fs.Path(files.head).getParent.toString
      assert(Footers.schema(spark, dir).get == spark.read.parquet(dir).schema, t)
    }
  }

  test("a directory the footer read cannot serve falls back to Spark") {
    withTempDir("graft_cold_fallback") { tmp =>
      def sameOutcome(p: String): Unit = {
        def outcome(df: => DataFrame) = Try(df.collect().map(_.toString).toSeq)
          .toEither.left.map(_.getClass)
        assert(outcome(Tables.parquet(spark, p)) ==
          outcome(spark.read.parquet(p)), p)
      }
      // first data file by name is not parquet
      val mixed = tmp.resolve("mixed")
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
        .write.parquet(mixed.resolve("sub").toString)
      Files.list(mixed.resolve("sub")).filter(_.toString.endsWith(".parquet"))
        .forEach(f => Files.move(f, mixed.resolve("b.parquet")))
      Files.write(mixed.resolve("a.txt"), "not parquet".getBytes("UTF-8"))
      assert(Footers.schema(spark, mixed.toString).isFailure)
      sameOutcome(mixed.toString)
      // partition directories only: Spark's discovery adds the column
      val parted = tmp.resolve("parted").toString
      Seq((1L, 7), (2L, 8)).toDF("id", "k").write.partitionBy("k").parquet(parted)
      assert(Footers.schema(spark, parted).isFailure)
      val viaFallback = Tables.parquet(spark, parted)
      assert(viaFallback.schema == spark.read.parquet(parted).schema)
      assert(viaFallback.schema.fieldNames.toSeq == Seq("id", "k"))
      sameOutcome(parted)
      // nothing but a hidden file and a marker
      val empty = tmp.resolve("empty")
      Files.createDirectories(empty)
      Files.write(empty.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(empty.resolve(".hidden.parquet"), "x".getBytes("UTF-8"))
      assert(Footers.schema(spark, empty.toString).isFailure)
      sameOutcome(empty.toString)
      // the fallback is Spark's inference job; the footer path runs none
      val ok = s"$SfDir/nation.parquet"
      assert(jobsIn(Tables.parquet(spark, parted)) >= 1)
      assert(jobsIn(Tables.parquet(spark, ok)) == 0)
      assert(jobsIn(spark.read.parquet(ok)) >= 1)
    }
  }

  test("Tables.register on a fresh dir runs no Spark job") {
    assert(jobsIn(Tables.register(spark, otherDir)) == 0)
    assert(jobsIn(Tables.register(spark, SfDir)) == 0)
    assert(spark.table("lineitem").count() ==
      Tables.rowCount(spark, SfDir, "lineitem"))
  }

  test("TPC-DS facts are written when a query first names them") {
    TpcdsSql.invalidateMaterialized(spark)
    run("qt4_tpcds_q21") // names no fact: every fact stays derived
    assert(facts.forall(factFiles(_).isEmpty))
    val derivedStore = fingerprint(spark.table("store_sales"))
    val derivedWeb = fingerprint(spark.table("web_sales"))
    run("qr3_tpcds_q96")
    assert(facts.filter(factFiles(_).nonEmpty) == Seq("store_sales"))
    val storeFiles = factFiles("store_sales")
    run("qs1_tpcds_q62")
    assert(facts.filter(factFiles(_).nonEmpty) == Seq("store_sales", "web_sales"))
    assert(factFiles("store_sales") == storeFiles, "store_sales was rewritten")
    assert(fingerprint(spark.table("store_sales")) == derivedStore)
    assert(fingerprint(spark.table("web_sales")) == derivedWeb)
  }

  test("a dir switch serves each dir's facts; invalidation resets them") {
    TpcdsSql.invalidateMaterialized(spark)
    def lineitemRows(dir: String) = Tables.rowCount(spark, dir, "lineitem")
    val small = run("qr3_tpcds_q96")
    val smallFiles = factFiles("store_sales")
    assert(spark.table("store_sales").count() == lineitemRows(SfDir))
    run("qr3_tpcds_q96", otherDir)
    val otherFiles = factFiles("store_sales")
    assert(otherFiles.nonEmpty && otherFiles != smallFiles)
    assert(spark.table("store_sales").count() == lineitemRows(otherDir))
    assert(lineitemRows(otherDir) != lineitemRows(SfDir))
    // back: the first dir's files are pointed at again, not rewritten
    assert(run("qr3_tpcds_q96").toSeq == small.toSeq)
    assert(factFiles("store_sales") == smallFiles)
    assert(spark.table("store_sales").count() == lineitemRows(SfDir))
    TpcdsSql.invalidateMaterialized(spark)
    run("qt4_tpcds_q21")
    assert(facts.forall(factFiles(_).isEmpty))
    assert(run("qr3_tpcds_q96").toSeq == small.toSeq)
    val rewritten = factFiles("store_sales")
    assert(rewritten.nonEmpty && rewritten != smallFiles)
    // a fact first named after another pack moved the base views to
    // another dir is still derived from this dir's tables
    TpcdsSql.invalidateMaterialized(spark)
    run("qt4_tpcds_q21")
    Tables.register(spark, otherDir)
    assert(run("qr3_tpcds_q96").toSeq == small.toSeq)
    assert(spark.table("store_sales").count() == lineitemRows(SfDir))
  }
}
