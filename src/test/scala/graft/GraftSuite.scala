package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` run;
  * getOrCreate dedups across suites). */
trait GraftSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("4")

  val SfDir = "/root/testdata/sf0.001"

  /** A fresh directory under java.io.tmpdir, deleted with everything
    * in it when `body` returns or throws (symbolic links are removed,
    * not followed). */
  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  override protected def afterAll(): Unit = {
    // Session is shared across suites — do not stop it here.
    super.afterAll()
  }
}
