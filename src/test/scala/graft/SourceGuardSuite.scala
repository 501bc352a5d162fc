package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Keeps each recurring idiom in its one helper: parquet footers are
  * read only in Footers, and thread pools are built only in Exec. */
class SourceGuardSuite extends GraftSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def sourcesUsing(token: String): Seq[String] = {
    val walk = Files.walk(main)
    try walk.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(token))
      .map(p => main.relativize(p).toString)
    finally walk.close()
  }

  private def only(token: String, owner: Path): Unit = {
    assert(Files.isDirectory(main), s"no sources at $main")
    assert(sourcesUsing(token) == Seq(main.relativize(owner).toString),
      s"$token belongs in $owner only")
  }

  test("ParquetFileReader appears only in Footers") {
    only("ParquetFileReader", main.resolve("graft/Footers.scala"))
  }

  test("newFixedThreadPool appears only in Exec") {
    only("newFixedThreadPool", main.resolve("graft/Exec.scala"))
  }
}
