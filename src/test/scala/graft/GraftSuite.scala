package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs that `body` starts on this thread. */
  def jobsIn(body: => Unit): Int = {
    val group = s"graft_jobs_${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.StatusBridge.flush(sc)
    } finally sc.removeSparkListener(listener)
    seen.get
  }

  override protected def afterAll(): Unit = {
    // Session is shared across suites — do not stop it here.
    super.afterAll()
  }
}
