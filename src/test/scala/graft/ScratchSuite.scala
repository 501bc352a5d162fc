package graft

/** The per-JVM scratch directory: gates write under it, and it is
  * registered for deletion when the JVM exits. */
class ScratchSuite extends GraftSuite {

  private def under(path: String): Boolean =
    path.startsWith(Scratch.root.toUri.getPath + "/")

  test("gate scratch paths lie under the scratch root") {
    assert(under(queries.Storage.ctasPath(spark, SfDir)))
    val logs = queries.Connectors.writeQ0nLogs()
    assert(under(logs))
    // written through the raw FS: no .crc siblings for graft-localfile
    // (the checksummed FS would hide them from its own listing)
    val files = Scratch.fs.getRawFileSystem
      .listStatus(new org.apache.hadoop.fs.Path(logs))
      .map(_.getPath.getName).sorted.toSeq
    assert(files == Seq("http-request.log.1", "http-request.log.2.gz",
      "http-request.log.3"), files.toString)
  }

  test("the scratch root is deleted when the JVM exits") {
    assert(Scratch.fs.exists(Scratch.root))
    assert(Scratch.fs.cancelDeleteOnExit(Scratch.root))
    Scratch.fs.deleteOnExit(Scratch.root)
  }
}
