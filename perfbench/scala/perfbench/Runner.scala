package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry, Tables}

/** One benchmark run against graft's public query surface, in one JVM with
  * one client in a closed loop (each query starts after the previous ends).
  *
  * Phases: session, fixture registration and one cold pass over every
  * gate (together `setup_s`), then one untimed warm-up pass (the first
  * pass after the cold one is the slowest by far while the JIT compiles
  * the hot paths), then `--passes` timed passes.  The count is fixed
  * rather than a budget of seconds, so every run times the same passes of
  * the JIT's warm-up curve.  Every one of these passes writes to the noop
  * sink.  After the timed region and the heap reading, one more untimed
  * pass, on the warm state the timed passes left, writes each gate's
  * result to parquet for the oracle comparison made by `run.py`.
  *
  * Per query it times only the program's public calls, from outside:
  * `SparkEntry.queries(name)(spark, dir)` (construct), `executedPlan`
  * (plan) and the noop-sink write (exec).  With `--trace 1` half the
  * timed passes are traced, with a SparkListener and a
  * QueryExecutionListener registered and a span recorded around every
  * call.  They follow the pattern untraced, traced, traced, untraced, and
  * so on, which keeps most of the JIT's warm-up trend out of the tracing
  * overhead (the two kinds of pass compared), and a traced run is as long
  * as an untraced one.
  *
  * Usage: Runner --fixture DIR --gates a,b,c --seed N --passes N
  *   --trace 0|1 --cores N --out DIR
  *   [--inject throw:GATE,wrong:GATE]
  * (`throw` fails the gate in every pass; `wrong` returns no rows in every
  * pass after the cold one, as a stale warm state would)
  */
object Runner {

  final case class Query(gate: String, pass: Int, ok: Boolean,
      construct: Double, plan: Double, exec: Double, wall: Double,
      traced: Boolean, err: String)

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Double, end: Double)

  private val SpanProp = "perfbench.span"
  private val CheckPass = -1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val base = System.nanoTime()
    val baseMs = System.currentTimeMillis()
    def now(): Double = (System.nanoTime() - base) / 1e9

    val dir = opt("fixture")
    val gates = opt("gates").split(',').toSeq
    val seed = opt("seed").toLong
    val timedPasses = opt("passes").toInt
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val inject: Map[String, String] = opt.get("inject").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map { s =>
        val Array(kind, gate) = s.split(":", 2); gate -> kind }.toMap
    Files.createDirectories(out)

    val spans = mutable.ArrayBuffer.empty[Span]
    val ids = new AtomicLong(0)
    def setupStep[T](kind: String, name: String)(f: => T): (T, Double) = {
      val t0 = now()
      val r = f
      spans += Span(ids.incrementAndGet(), 0, kind, name, t0, now())
      (r, now() - t0)
    }

    val (spark, sessionS) = setupStep("session", "Sessions.local")(Sessions.local(opt("cores")))
    val registerS = setupStep("register", "Tables.register")(Tables.register(spark, dir))._2
    val sc = spark.sparkContext

    val oracle = SparkEntry.oracleSql
    val missing = gates.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")

    def construct(gate: String, pass: Int): DataFrame = {
      val df = SparkEntry.queries(gate)(spark, dir)
      inject.get(gate) match {
        case Some("throw") => throw new IllegalStateException(s"injected failure in $gate")
        case Some("wrong") if pass != 0 => df.limit(0)
        case _ => df
      }
    }

    /** One query: construct, plan, exec; spans only when `traced`. */
    def runQuery(gate: String, pass: Int, passId: Long, traced: Boolean): Query = {
      val sink = (df: DataFrame) =>
        if (pass == CheckPass) df.write.mode("overwrite").parquet(out.resolve("check").resolve(gate).toString)
        else df.write.format("noop").mode("overwrite").save()
      val gateId = ids.incrementAndGet()
      val g0 = now()
      var c, p, e = 0.0
      def call[T](kind: String)(f: => T): (T, Double) = {
        val id = ids.incrementAndGet()
        if (traced) sc.setLocalProperty(SpanProp, id.toString)
        val t0 = now()
        try { val r = f; (r, now() - t0) }
        finally {
          if (traced) {
            spans += Span(id, gateId, kind, gate, t0, now())
            sc.setLocalProperty(SpanProp, null)
          }
        }
      }
      val err = try {
        val (df, cs) = call("construct")(construct(gate, pass)); c = cs
        p = call("plan")(df.queryExecution.executedPlan)._2
        e = call("exec")(sink(df))._2
        null
      } catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}" }
      finally graft.sources.Stores.releaseAll() // no store outlives its gate
      val wall = now() - g0
      if (traced) spans += Span(gateId, passId, "gate", gate, g0, g0 + wall)
      Query(gate, pass, err == null, c, p, e, wall, traced, err)
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(gates)

    val bean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer.empty[String]
    def runPass(pass: Int, traced: Boolean): Seq[Query] = {
      val passId = ids.incrementAndGet()
      val (t0, cpu0) = (now(), bean.getProcessCpuTime)
      val qs = order(pass).map(runQuery(_, pass, passId, traced))
      val (wall, cpu) = (now() - t0, (bean.getProcessCpuTime - cpu0) / 1e9)
      passes += s"""{"pass":$pass,"wall_s":$wall,"cpu_s":$cpu,"traced":$traced}"""
      if (traced) spans += Span(passId, 0, "pass", s"pass$pass", t0, t0 + wall)
      qs
    }

    // ---- setup: one cold pass over every gate ----
    val cold = runPass(0, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- one warm-up pass, then the timed region: whole passes, closed loop ----
    val recorder = new JobRecorder
    val opsRecorder = new OpsRecorder
    var pass = 1
    def onePass(traced: Boolean): Seq[Query] = {
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(opsRecorder)
      }
      try runPass(pass, traced)
      finally {
        pass += 1
        if (traced) {
          recorder.fence(sc) // deliver this pass's events before detaching
          sc.removeSparkListener(recorder)
          spark.listenerManager.unregister(opsRecorder)
        }
      }
    }
    onePass(traced = false)
    // with tracing, timed passes 2, 3, 6, 7, ... are traced
    val t0 = now()
    val timed = (1 to timedPasses).flatMap(i => onePass(traced = trace && (i % 4 == 2 || i % 4 == 3)))
    val wallS = now() - t0

    // heap retained by caches, stores and materializations; the pauses let
    // Spark's ContextCleaner drop what the first collections released
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- the results checked against the oracles, outside the timed region ----
    val check = gates.map(runQuery(_, CheckPass, 0, traced = false))

    spark.stop()

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""setup_s":$setupS,"session_s":$sessionS,"register_s":$registerS,"""
    sb ++= s""""wall_s":$wallS,"heap_mb":$heapMb,"base_epoch_ms":$baseMs,"""
    sb ++= passes.drop(2).mkString("\"timed_passes\":[", ",", "],")
    sb ++= cold.map(queryJson).mkString("\"cold\":[", ",", "],")
    sb ++= check.map(queryJson).mkString("\"check\":[", ",", "],")
    sb ++= timed.map(queryJson).mkString("\"timed\":[", ",", "],")
    sb ++= gates.map(g => s"${str(g)}:${str(oracle.getOrElse(g, null))}")
      .mkString("\"oracle\":{", ",", "},")
    sb ++= opsRecorder.json
    sb ++= "}"
    write(out.resolve("result.json"), sb.toString)

    if (trace) {
      val lines = spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},"start":${s.start},"end":${s.end}}"""
      } ++ recorder.jsonLines(baseMs)
      write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
  }

  private def queryJson(q: Query): String =
    s"""{"gate":${str(q.gate)},"pass":${q.pass},"ok":${q.ok},"construct_s":${q.construct},"plan_s":${q.plan},"exec_s":${q.exec},"wall_s":${q.wall},"traced":${q.traced},"err":${str(q.err)}}"""

  private[perfbench] def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}

/** Spark scheduler layer: one record per job, with its stages and the
  * summed metrics of its tasks.  The span that started the job comes from
  * the `perfbench.span` local property. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val span: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var runMs, gcMs, peakMem = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, inRows, outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val fences = new java.util.concurrent.atomic.AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty("perfbench.span")).orNull
    jobs(e.jobId) = new Job(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      j.inRows += m.inputMetrics.recordsRead
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.span == "fence") fences.incrementAndGet()
    }
  }

  /** Runs one marker job and waits until the listener bus has delivered
    * it, so every earlier event has been recorded. */
  def fence(sc: org.apache.spark.SparkContext): Unit = {
    val target = fences.get() + 1
    sc.setLocalProperty("perfbench.span", "fence")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty("perfbench.span", null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (fences.get() < target && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def jsonLines(baseMs: Long): Seq[String] = synchronized {
    jobs.values.toSeq.filter(j => j.span != "fence" && j.end >= 0).map { j =>
      val parent = Option(j.span).getOrElse("0")
      s"""{"id":"job${j.id}","parent":$parent,"kind":"job","name":"job${j.id}","start":${(j.start - baseMs) / 1e3},"end":${(j.end - baseMs) / 1e3},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"task_run_s":${j.runMs / 1e3},"task_cpu_s":${j.cpuNs / 1e9},"gc_s":${j.gcMs / 1e3},"peak_exec_mem_mb":${j.peakMem / 1048576.0},""" +
        s""""shuffle_write_mb":${j.shuffleWrite / 1048576.0},"shuffle_read_mb":${j.shuffleRead / 1048576.0},"spill_mb":${j.spill / 1048576.0},"input_rows":${j.inRows},"output_mb":${j.outBytes / 1048576.0}}"""
    }
  }
}

/** Per-operator layer: SQLMetric totals of every executed plan, grouped
  * by physical node name and metric.  Reads the executed `QueryExecution`
  * handed to the listener, because a `.write` plans its own copy of the
  * DataFrame and leaves the DataFrame's own plan nodes empty. */
final class OpsRecorder extends QueryExecutionListener {
  private val totals = mutable.Map.empty[(String, String), Double]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { walk(qe.executedPlan) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = {
    p.metrics.foreach { case (k, m) =>
      val v = m.metricType match {
        case "nsTiming" => m.value / 1e9
        case "timing" => m.value / 1e3
        case "size" => m.value / 1048576.0
        case _ => m.value.toDouble
      }
      if (m.value > 0) {
        // "WholeStageCodegen (3)" -> "WholeStageCodegen", "Scan parquet " -> "Scan parquet"
        val key = (p.nodeName.replaceAll(" \\(\\d+\\)$", "").trim, s"$k [${m.metricType}]")
        totals(key) = totals.getOrElse(key, 0.0) + v
      }
    }
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other => other.children.foreach(walk)
    }
    p.subqueries.foreach(walk)
  }

  def json: String = synchronized {
    totals.toSeq.sortBy(_._1).map { case ((node, metric), v) =>
      s"""{"node":${Runner.str(node)},"metric":${Runner.str(metric)},"value":$v}"""
    }.mkString("\"ops\":[", ",", "]")
  }
}
