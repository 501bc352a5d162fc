package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Writes each gate's FormattedMode plan, so two checkouts' plans can be
  * compared with `diff -r`:
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <sfDir> <outDir> [prefix,...]"
  * }}}
  *
  * `<gate>.txt` is the plan as planned, before it runs. The gate then
  * runs once through its own `QueryExecution` (a `.write` would plan it
  * again), and `<gate>.final.txt` holds the plan after the run, with
  * AQE's final plan above the initial one. A final plan can differ
  * between two runs of the same code where AQE re-plans on whichever
  * stage finishes first, so compare the `.txt` files for plan changes
  * and read the `.final.txt` ones for runtime re-planning.
  *
  * What differs between two runs of the same code is masked: expression
  * ids, plan ids, RDD ids, identity hashes, lambda class names, the
  * application id, and scratch and temp directory names; the data
  * directory prints as `<sfDir>`. A gate that
  * throws writes its exception class instead of a plan. The optional
  * third argument keeps only the gates whose names start with one of the
  * comma-separated prefixes. */
object PlanDump {

  private val masks = Seq(
    "#\\d+L?" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "RDD\\[\\d+\\]" -> "RDD[N]",
    "\\$\\$Lambda[$/\\w]*(/0x[0-9a-f]+)?" -> "\\$\\$Lambda",
    "@[0-9a-f]{5,}\\b" -> "@H",
    "graft_scratch_[0-9a-f-]+" -> "graft_scratch_X",
    "local-\\d+" -> "local-N",
    // before the temp suffixes: a UUID may open with six digits
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "UUID",
    // Files.createTempDirectory / createTempFile suffixes
    "(/[A-Za-z_]+)-?\\d{6,}" -> "$1N")

  def mask(plan: String): String = masks.foldLeft(plan) {
    case (text, (pattern, by)) => text.replaceAll(pattern, by)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, prefixes) = args match {
      case Array(a, b)    => (a, b, Seq(""))
      case Array(a, b, p) => (a, b, p.split(",").toSeq)
    }
    val data = new java.io.File(sfDir).getAbsolutePath
    def show(plan: String): String = mask(plan).replace(data, "<sfDir>")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.filter(kv => prefixes.exists(kv._1.startsWith))
      .foreach { case (name, fn) =>
        def write(suffix: String, text: String): Unit =
          Files.writeString(Paths.get(outDir, s"$name$suffix"), text)
        try {
          val qe = fn(spark, sfDir).queryExecution
          write(".txt", show(qe.explainString(FormattedMode)))
          SQLExecution.withNewExecutionId(qe, Some(name)) {
            qe.executedPlan.execute().foreach(_ => ())
          }
          write(".final.txt", show(qe.explainString(FormattedMode)))
        } catch {
          case e: Throwable => write(".txt", s"FAILED: ${e.getClass.getName}\n")
        } finally sources.Stores.releaseAll()
      }
    spark.stop()
  }
}
