package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: per query, one untimed prewarm pass then two timed
  * passes (min) — plus up to three retry passes whenever the timed
  * trials disagree by >1.5x (driver-machine contention defense; see the
  * inline note) — all consecutive, the way the reference benchmarks
  * prewarm (`presto-benchto-benchmarks/.../tpch.yaml` `prewarm-runs: 2`).
  *
  * Passes are grouped per-query rather than pass-wise across the whole
  * suite: with ~100 queries x several stages each, a suite-wide pass order
  * evicts every entry of Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, default 100) between a query's
  * prewarm and its timed runs, so timed runs re-pay janino compilation —
  * measured 5x phantom regressions on multi-join queries (round-3 q17/q43
  * read 4.6 s / 2.2 s in-suite vs 0.9 s / 0.4 s isolated). Consecutive
  * passes plus a raised cache measure the engine, not the cache churn.
  *
  * Results sink to the noop datasource so Catalyst can't prune
  * projection-only work the way it can under `count()`. The JSON line is
  * ALSO written to bench_out.json — stdout capture truncated 41 of 102
  * per-query timings in round 3.
  *
  * A suite-level contention canary (three pinned cheap queries timed
  * before AND after the suite) stamps `contended`/`canary_end_over_start`
  * /`wall_sec` into both artifacts: uniform machine load inflates every
  * trial equally, which the per-query spread retry cannot see.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Previous committed run (round-14 lesson): the end-canary check
    // only sees a machine slow AT suite end — a mid-suite load burst
    // that subsides reads clean. The per-query MEDIAN ratio against
    // the last committed artifact catches exactly that; read it BEFORE
    // this run overwrites the file.
    val prevQueries: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_out.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        // ONLY the "queries" object — "trial_spread" carries the same
        // query-name keys with ratio values, and a whole-file regex
        // would let those overwrite the seconds
        val start = txt.indexOf("\"queries\":{")
        val end = if (start < 0) -1 else txt.indexOf("}", start)
        val qs = if (start < 0 || end < 0) ""
          else txt.substring(start, end)
        """"(q[0-9a-z_]+)":([0-9.]+)""".r.findAllMatchIn(qs)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val spark = Sessions.local(cpus)
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Optional arg: comma-separated name prefixes — dev-only filter for
    // isolated regression hunts; the driver always runs the full set.
    val prefixes = args.headOption.map(_.split(",").toSeq).getOrElse(Seq(""))
    // Contention guard (round-9): min-of-2 does not defend against a busy
    // driver machine — BENCH_r08 recorded qb1 at 5.80 s where an isolated
    // run measures 1.02 s (806 s sbt wall around a 185 s suite = a
    // concurrent JVM stole the cores). When the two timed trials disagree
    // by >1.5x the measurement is suspect: take up to 3 extra trials until
    // the two fastest agree within 1.5x, and report the min. The committed
    // artifact then converges to the isolated number regardless of driver
    // contention; the per-query trial spread lands in bench_out.json so a
    // still-contended query is visible, not silent.
    val MaxSpread = 1.5
    def spreadOf(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.size < 2) Double.MaxValue
      else if (ok.head == 0.0) 1.0
      else ok(1) / ok.head
    }
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Suite-level contention canary (round-11): the per-query retry
    // guard only catches contention that VARIES between a query's own
    // trials — a uniformly loaded machine inflates every trial equally
    // and sails through (BENCH_r10 read 202 s where a clean isolated
    // run measures 167 s). So: time three pinned cheap queries before
    // the suite, re-time them after, and stamp the ratios + a
    // `contended` flag into the artifact when either reading is >1.3x
    // the other — a drifting environment can't produce a silently
    // trusted number. Wall-clock of the whole suite section is emitted
    // too (wall >> sum of timed minimums = retries burned on spread =
    // another contention tell).
    val canaryNames = Seq("q02_", "q06_", "q83_").flatMap(p =>
      SparkEntry.queries.keys.find(_.startsWith(p)))
    val fullSuite = prefixes == Seq("")
    def timeCanaries(): Map[String, Double] =
      if (!fullSuite) Map.empty
      else canaryNames.map { n =>
        val fn = SparkEntry.queries(n)
        runOnce(fn) // warm
        n -> Seq(runOnce(fn), runOnce(fn)).filter(_ >= 0).minOption
          .getOrElse(-1.0)
      }.toMap
    val wallStart = System.nanoTime()
    val canaryStart = timeCanaries()
    val results = SparkEntry.queries
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
      .map { case (name, fn) =>
      // release every in-process connector store before the timed
      // region: gates recreate their own store, but the PRIOR query's
      // fixture would otherwise sit in old-gen for the whole suite
      // (the round-11 suite-wide drift)
      sources.Stores.releaseAll()
      System.gc() // drain prior queries' garbage outside the timed region
      runOnce(fn) // prewarm: scan + codegen warm, untimed
      var trials = Seq(runOnce(fn), runOnce(fn))
      var retries = 0
      while (spreadOf(trials) > MaxSpread && retries < 3 &&
          trials.exists(_ >= 0)) {
        trials :+= runOnce(fn)
        retries += 1
      }
      val valid = trials.filter(_ >= 0)
      spreads(name) =
        if (valid.size < 2) -1.0 else math.min(spreadOf(trials), 99.0)
      name -> (if (valid.isEmpty) -1.0 else valid.min)
    }
    val canaryEnd = timeCanaries()
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val canaryRatios = canaryStart.flatMap { case (n, t0) =>
      canaryEnd.get(n).collect {
        case t1 if t0 > 0 && t1 > 0 => n -> t1 / t0
      }
    }
    // one-sided: contended means the machine got BUSIER under the suite
    // (end > 1.3x start). Ratios well below 1 are the expected JIT/
    // codegen warm-up tail (a first measured run of 385 queries fully
    // warms the stack; suite-end canaries read ~0.4x their suite-start
    // times on a quiet machine) — stamped for transparency, not flagged.
    val contended = canaryRatios.values.exists(_ > 1.3)
    // ABSOLUTE canary baseline (round-13 lesson): the end/start ratio
    // only sees load that changes DURING the suite — four same-code
    // full runs in one day read 144-167 s with per-run canary values
    // tracking the totals linearly (a uniformly slower machine sails
    // through the ratio check). The suite-END canary SECONDS from the
    // round-13 cleanest run (138.7 s / 420) are the default baseline;
    // `machine_slow` flags a run whose end canaries read above
    // threshold x that, so a drifted environment can't produce a
    // silently trusted number across RUNS either. The defaults are one
    // HOST's numbers at sf0.1 (other fixtures stamp null), so a
    // legitimately different machine overrides them via
    // GRAFT_CANARY_BASELINE="q02=s,q06=s,q83=s" (and optionally
    // GRAFT_CANARY_SLOW_X); the default threshold is 1.8x — wide
    // enough that JIT/GC jitter at the ~40-90 ms canary scale (spread
    // observed ~1.3x run-to-run on the SAME quiet host) does not trip
    // it, and it takes 2 of 3 canaries over the bar to flag.
    val defaultBaseline = Map("q02_" -> 0.085, "q06_" -> 0.086,
      "q83_" -> 0.039)
    val canaryBaseline = sys.env.get("GRAFT_CANARY_BASELINE") match {
      case Some(s) => s.split(',').map { kv =>
        val Array(k, v) = kv.trim.split('=')
        s"${k.trim}_" -> v.trim.toDouble
      }.toMap
      case None => defaultBaseline
    }
    val slowX = sys.env.get("GRAFT_CANARY_SLOW_X")
      .map(_.toDouble).getOrElse(1.8)
    val canaryVsBaseline =
      if (!sfDir.endsWith("sf0.1")) Map.empty[String, Double]
      else canaryEnd.flatMap { case (n, t1) =>
        canaryBaseline.collectFirst {
          case (p, b) if n.startsWith(p) && t1 > 0 => n -> t1 / b
        }
      }
    // r16 (r15 adjudication): the 2-of-3 over-1.8x trip missed the r15
    // drifted series — a 215 s run carried canaries 1.38-1.72x,
    // uniformly inflated yet each under the bar. A UNIFORM inflation
    // shows in the median, so the flag also trips when the median
    // canary_vs_baseline reads >= 1.3: an environment-inflated
    // artifact self-labels instead of entering the record as a
    // regression.
    val canaryMedian: Option[Double] = {
      val vs = canaryVsBaseline.values.toSeq.sorted
      if (vs.isEmpty) None
      else if (vs.size % 2 == 1) Some(vs(vs.size / 2))
      else Some((vs(vs.size / 2 - 1) + vs(vs.size / 2)) / 2)
    }
    val machineSlow = canaryVsBaseline.values.count(_ > slowX) >= 2 ||
      canaryMedian.exists(_ >= 1.3)
    // per-query median vs the previous committed artifact — the drift
    // signal the canaries can't see (mid-suite bursts). 1.0 = same
    // machine weather as the last committed run; read it alongside
    // machine_slow before trusting a total.
    val medianVsPrev: Option[Double] = {
      val rs = results.collect {
        case (k, v) if v > 0 && prevQueries.getOrElse(k, 0.0) > 0.02 =>
          v / prevQueries(k)
      }.toSeq.sorted
      if (rs.size < 50) None else Some(rs(rs.size / 2))
    }
    def toJson(rs: Iterable[(String, Double)]): String = rs
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    // gates with no successful trial: left out of the total above, so
    // named here rather than silently shrinking it
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full per-query map goes to bench_out.json; stdout carries only the
    // TPC-H core + the slowest others. Round 4 proved the full ~120-entry
    // line overflows the driver's stdout tail capture, which then fails to
    // parse the clipped JSON (BENCH_r04.json `parsed: null`) — the stdout
    // line must stay well under the capture window.
    val core = results.filter { case (k, _) => k.matches("q[0-2][0-9]_.*") }
    val rest = (results -- core.keys).toSeq.sortBy(-_._2).take(8)
    val canaryJson = toJson(canaryRatios)
    val canaryAbsJson = toJson(canaryVsBaseline)
    val canaryMedianJson =
      canaryMedian.map(v => f"$v%.3f").getOrElse("null")
    val full =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":${toJson(results)},"trial_spread":${toJson(spreads)},"failed":$failedJson,"contended":$contended,"canary_end_over_start":$canaryJson,"canary_vs_baseline":$canaryAbsJson,"canary_median":$canaryMedianJson,"machine_slow":$machineSlow,"median_vs_prev":${medianVsPrev.map(v => f"$v%.3f").getOrElse("null")},"wall_sec":${f"$wallSec%.1f"},"sf":"$sfDir"}"""
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"contended":$contended,"canary_end_over_start":$canaryJson,"canary_vs_baseline":$canaryAbsJson,"canary_median":$canaryMedianJson,"machine_slow":$machineSlow,"median_vs_prev":${medianVsPrev.map(v => f"$v%.3f").getOrElse("null")},"wall_sec":${f"$wallSec%.1f"},"queries":${toJson(core ++ rest)},"queries_full":"bench_out.json","sf":"$sfDir"}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
