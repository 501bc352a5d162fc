package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Keeps each recurring idiom in its one helper: parquet footers are
  * read only in Footers, thread pools are built only in Exec, sketch
  * bytes are told apart only in SketchFamily, an oracle gets its
  * derived-view CTE only through QueryPack.withCte, the DataSource V2
  * read plumbing (providers, reader factories, readers) lives only in
  * sources/Connector.scala, queries/ makes its scratch files only
  * under Scratch, one Greiner–Hormann clipper answers every polygon
  * boolean op, parquet is read only through Tables' lean format,
  * Spark's pushed filters are translated only in sources/Domain.scala,
  * and a gate's session is prepared only in SparkEntry.queries. */
class SourceGuardSuite extends GraftSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (path relative to src/main/scala, text) of every source file. */
  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(main)
    try walk.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => (main.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

  private def sourcesWhere(matches: String => Boolean): Seq[String] =
    sources.collect { case (p, src) if matches(src) => p }

  private def only(token: String, owner: Path,
      matches: String => Boolean): Unit = {
    assert(Files.isDirectory(main), s"no sources at $main")
    assert(sourcesWhere(matches) == Seq(main.relativize(owner).toString),
      s"$token belongs in $owner only")
  }

  private def only(token: String, owner: Path): Unit =
    only(token, owner, _.contains(token))

  /** Calls of `name`, not its definition. */
  private def onlyCalls(name: String, owner: Path): Unit = {
    val call = s"(?<!def )\\b$name\\(".r
    only(s"$name(", owner, call.findFirstIn(_).isDefined)
  }

  test("ParquetFileReader appears only in Footers") {
    only("ParquetFileReader", main.resolve("graft/Footers.scala"))
  }

  test("newFixedThreadPool appears only in Exec") {
    only("newFixedThreadPool", main.resolve("graft/Exec.scala"))
  }

  test("isHll and isKhll are called only in SketchFamily") {
    val owner = main.resolve("graft/functions/SketchFamily.scala")
    onlyCalls("isHll", owner)
    onlyCalls("isKhll", owner)
  }

  test("oracle CTEs are spliced only through QueryPack.withCte") {
    val spliced = sourcesWhere(src =>
      src.contains("WITH $dsCte") || src.contains("WITH $psCte"))
    assert(spliced.isEmpty, s"hand-spliced oracle CTE in $spliced")
  }

  test("queries/ makes no temp directory outside Hadoop FileSystem") {
    val found = sourcesWhere(_.contains("createTempDirectory"))
      .filter(_.startsWith("graft/queries/"))
    assert(found.isEmpty, s"createTempDirectory in $found")
  }

  test("pushed filters are translated only in sources/Domain.scala") {
    only("GreaterThanOrEqual(", main.resolve("graft/sources/Domain.scala"))
  }

  test("DSv2 read plumbing appears only in sources/Connector.scala") {
    val owner = main.resolve("graft/sources/Connector.scala")
    only("extends TableProvider", owner)
    only("extends PartitionReaderFactory", owner)
    only("new PartitionReader[", owner)
  }

  test("queries/ takes no path from java.io.tmpdir") {
    val found = sourcesWhere(_.contains("java.io.tmpdir"))
      .filter(_.startsWith("graft/queries/"))
    assert(found.isEmpty, s"java.io.tmpdir in $found")
  }

  test("queries/ leaves session preparation to SparkEntry") {
    for (call <- Seq("Registry.install(", "Tables.register(", "Tables.view(")) {
      val found = sourcesWhere(_.contains(call))
        .filter(_.startsWith("graft/queries/"))
      assert(found.isEmpty, s"$call in $found: SparkEntry.queries prepares it")
    }
  }

  test(".read.parquet( appears only in Tables") {
    val found = sourcesWhere(_.contains(".read.parquet("))
      .filterNot(_ == "graft/Tables.scala")
    assert(found.isEmpty, s".read.parquet( in $found: use Tables.readParquet")
  }

  test("the Greiner-Hormann traversal helper is defined once") {
    val defs = sources.map { case (_, src) =>
      "def insertAfter\\(".r.findAllMatchIn(src).size }.sum
    assert(defs == 1, s"$defs definitions of insertAfter")
  }
}
