package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** This JVM's scratch directory, `java.io.tmpdir/graft_scratch_<uuid>`.
  * It is made once through Hadoop's local FileSystem and marked
  * deleteOnExit: Hadoop closes its cached FileSystems in a shutdown
  * hook, and that close deletes the directory. Gates keep CTAS outputs,
  * Derby databases, materialized facts and fixture files under it, so
  * two JVMs never share a path and no run leaves files behind. */
object Scratch {
  lazy val fs: LocalFileSystem = FileSystem.getLocal(new Configuration())

  lazy val root: Path = {
    val dir = fs.makeQualified(new Path(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${java.util.UUID.randomUUID}"))
    fs.mkdirs(dir)
    fs.deleteOnExit(dir)
    dir
  }

  /** `name` under the root, as a local filesystem path. */
  def path(name: String): String = new Path(root, name).toUri.getPath
}
