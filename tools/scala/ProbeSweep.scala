package graft

/** Dev-only: time gate queries at a given fixture dir, each the median of
  * 3 post-warm trials in one JVM, for the BENCH_sf1 scaling sweep. Not
  * part of the driver contract.
  * Usage: runMain graft.ProbeSweep <name1,name2,...> <dir> */
object ProbeSweep {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = args(1)
    val spark = Sessions.local("32")
    // measurement hygiene: gates that localCheckpoint (q2e/q2k's PQ
    // assignments) leave cached blocks behind per run; in a repeated
    // same-JVM probe those accumulate (GC-freed only) and inflate
    // LATER trials monotonically — the r16/r17 q2e "isolated probe
    // anomaly" signature (5.3→6.5→8.6 s vs a flat 3.7-4.1 s with this
    // release). A real suite runs each gate once and the context
    // cleaner reclaims naturally; the probe must measure the query,
    // not the harness residue. ONLY checkpoint residue is released: a
    // deliberate df.persist registers in the CacheManager (plan-keyed,
    // reused by the next trial), and unpersisting its RDD underneath
    // would silently de-warm gates that cache on purpose AND leave a
    // stale cache entry that recomputes inside the timed region. The
    // library sets no checkpoint directory, so every checkpointed RDD
    // here is a local checkpoint.
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .filter(_.isCheckpointed)
        .foreach(_.unpersist(true))
      System.gc()
    }
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      try {
        q(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val times = (1 to 3).map { _ =>
          release()
          val t0 = System.nanoTime()
          q(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"[sweep] $name $dir median=${times(1)}%.3f s " +
          f"(all=${times.map(t => f"$t%.2f").mkString(",")})")
      } catch {
        case e: Throwable => println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
